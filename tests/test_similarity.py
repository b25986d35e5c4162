"""Similarity search: exact brute-force invariants, LSH recall against
the exact baseline, and the float-cosine helper."""

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR
from kausaldb_spark.functions import similarity as sim

QIDS = list(range(10))


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").persist()


def _topk_map(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["query_id"], []).append(r["neighbor_id"])
    return out


def test_dot_topk_exact_invariants(emb):
    got = sim.dot_topk(emb, QIDS, k=5)
    rows = got.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append((r["rank"], r["dot"], r["neighbor_id"]))
    assert set(per_q) == set(QIDS)
    for q, lst in per_q.items():
        lst.sort()
        assert [r for r, _, _ in lst] == [1, 2, 3, 4, 5]
        dots = [d for _, d, _ in lst]
        assert dots == sorted(dots, reverse=True)  # ranked by score
        assert all(n != q for _, _, n in lst)      # self excluded


def test_float_cosine_selfsim(spark, emb):
    a = emb.limit(3).select(
        "vec_id", sim.float_cosine(F.col("embedding"), F.col("embedding")).alias("c")
    )
    for r in a.collect():
        assert abs(r["c"] - 1.0) < 1e-6


# --- r6: sign-LSH auto-parameterization (verdict finding #3) ---


def test_auto_n_bits_math():
    # tiny corpus: one split suffices
    assert sim.auto_n_bits(100, 500) == 1
    # 24k rows, cap 50 → expected bucket ≈ cap/2 → 10 bits
    assert sim.auto_n_bits(24_000, 50) == 10
    # clamped at max_bits regardless of corpus size
    assert sim.auto_n_bits(10**12, 500, max_bits=24) == 24
    # monotone in corpus size
    bits = [sim.auto_n_bits(n, 500) for n in (10**3, 10**5, 10**7, 10**9)]
    assert bits == sorted(bits)


@pytest.fixture(scope="module")
def big_emb(spark):
    """24k 16-dim vectors, deterministic, roughly uniform on [-1,1] — big
    enough that FIXED 8-bit bucketing exceeds a 50-row cap in every bucket."""
    import numpy as np

    rng = np.random.default_rng(7)
    vecs = rng.uniform(-1.0, 1.0, size=(24_000, 16)).astype("float32")
    import pandas as pd

    pdf = pd.DataFrame({
        "vec_id": np.arange(24_000, dtype="int64"),
        "embedding": [v.tolist() for v in vecs],
    })
    return spark.createDataFrame(pdf).repartition(16).cache()


def test_fixed_bits_degenerate_at_scale_auto_bits_survive(big_emb):
    """The r5 finding, reproduced then fixed: with n_bits=8 and a 50-row
    cap, every one of the 256 buckets holds ~94 rows → the quadratic guard
    drops ~everything. Auto-scaled bits keep buckets under the cap and the
    dropped relation is (near-)empty."""
    _, dropped_fixed = sim.embedding_near_duplicates(
        big_emb, min_dot=10**9, n_bits=8, max_bucket_size=50, with_dropped=True
    )
    n_dropped_fixed = dropped_fixed.agg(F.sum("_n")).first()[0] or 0
    assert n_dropped_fixed > 20_000, n_dropped_fixed  # nearly all data dropped

    _, dropped_auto = sim.embedding_near_duplicates(
        big_emb, min_dot=10**9, n_bits=None, max_bucket_size=50, with_dropped=True
    )
    n_dropped_auto = dropped_auto.agg(F.sum("_n")).first()[0] or 0
    assert n_dropped_auto < 1_200, n_dropped_auto  # <5% of the corpus


def test_lsh_topk_auto_bits_nondegenerate_recall(spark):
    """Clustered corpus at auto-scaled bits: every query answers, and
    multi-probe recall vs the exact baseline is real (>0.5) — the LSH path
    still *finds* neighbors once bits grow with the corpus."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(11)
    centers = rng.choice([-1.0, 1.0], size=(64, 16))
    idx = rng.integers(0, 64, size=12_000)
    vecs = (centers[idx] + rng.normal(0, 0.05, size=(12_000, 16))).astype("float32")
    emb = spark.createDataFrame(pd.DataFrame({
        "vec_id": np.arange(12_000, dtype="int64"),
        "embedding": [v.tolist() for v in vecs],
    })).repartition(16).cache()
    queries = [0, 1, 2, 3, 4]

    exact = sim.dot_topk(emb, queries, k=5)
    approx = sim.lsh_bucketed_topk(emb, queries, k=5, n_bits=None, multi_probe=True)
    got_q = {r["query_id"] for r in approx.select("query_id").distinct().collect()}
    assert got_q == set(queries)  # non-degenerate: every query has candidates

    ex = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    ap = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(ex & ap) / len(ex)
    assert recall > 0.5, recall
    emb.unpersist()


def test_multi_probe_at_least_single_probe(emb):
    """Multi-probe candidates are a superset of single-probe: per-query
    result count can only grow, and the single-probe pairs survive."""
    single = sim.lsh_bucketed_topk(emb, [1, 2, 3], k=5, n_bits=6)
    multi = sim.lsh_bucketed_topk(emb, [1, 2, 3], k=5, n_bits=6, multi_probe=True)
    ns = {r["query_id"]: r["n"] for r in
          single.groupBy("query_id").agg(F.count("*").alias("n")).collect()}
    nm = {r["query_id"]: r["n"] for r in
          multi.groupBy("query_id").agg(F.count("*").alias("n")).collect()}
    for q in ns:
        assert nm.get(q, 0) >= ns[q]


# ---------------------------------------------------------------------------
# SemDeDup-style semantic dedup
# ---------------------------------------------------------------------------

def _planted_corpus(spark):
    """Two well-separated k-means clusters; inside each, one planted group of
    3 near-identical vectors plus distinct singletons."""
    import random

    rng = random.Random(7)
    rows = []
    vid = 0

    def noisy(base, eps):
        return [b + rng.uniform(-eps, eps) for b in base]

    for cluster_base in ([10.0, 0.0, 0.0, 0.0], [0.0, 10.0, 0.0, 0.0]):
        # planted near-dup triple (cosine ~1 to each other)
        for _ in range(3):
            rows.append((vid, noisy(cluster_base, 0.01)))
            vid += 1
        # distinct members: same k-means cluster, but mutually rotated far
        # enough (pairwise cosine <= ~0.75) to stay under the 0.95 threshold
        for tail in ([9.0, 0.0], [-9.0, 0.0], [0.0, 9.0]):
            v = list(cluster_base)
            v[2], v[3] = tail
            rows.append((vid, noisy(v, 0.01)))
            vid += 1
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def test_semantic_dedup_planted_groups(spark):
    df = _planted_corpus(spark)
    out = sim.semantic_dedup(df, threshold=0.95, n_clusters=2, seed=1).collect()
    by_id = {r["vec_id"]: r for r in out}
    assert set(by_id) == set(range(12))            # every doc gets a verdict
    # planted triples collapse to one component each, keep exactly one
    for group in (range(0, 3), range(6, 9)):
        cids = {by_id[i]["cluster_id"] for i in group}
        assert cids == {min(group)}, f"group {list(group)} split: {cids}"
        keeps = [i for i in group if by_id[i]["keep"] == 1]
        assert len(keeps) == 1
    # distinct members survive as singletons
    for i in list(range(3, 6)) + list(range(9, 12)):
        assert by_id[i]["cluster_id"] == i
        assert by_id[i]["keep"] == 1
    # total kept = 2 representatives + 6 singletons
    assert sum(r["keep"] for r in out) == 8


def test_semantic_dedup_keeps_farthest_from_centroid(spark):
    """Within a near-dup group the survivor is the member with the LOWEST
    centroid cosine (SemDeDup's diversity-preserving rule)."""
    # cluster A: a tight pair where one member is pulled toward the cluster
    # fringe (lower cosine to the centroid), plus fillers that anchor the
    # centroid away from the pair; cluster B far away absorbs the second
    # k-means centroid so A stays intact.
    rows = [
        (0, [10.0, 0.0, 0.0, 0.0]),
        (1, [10.0, 0.4, 0.0, 0.0]),   # same direction, slightly off-axis
        (2, [9.0, -3.0, 0.0, 0.0]),
        (3, [9.0, 0.0, 3.0, 0.0]),
        (4, [0.0, 0.0, 0.0, 100.0]),
        (5, [0.0, 0.0, 0.0, 101.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = {r["vec_id"]: r for r in
           sim.semantic_dedup(df, threshold=0.999, n_clusters=2, seed=1).collect()}
    assert out[0]["cluster_id"] == 0 and out[1]["cluster_id"] == 0
    kept = [i for i in (0, 1) if out[i]["keep"] == 1]
    # centroid leans toward +y fillers? compute which of 0/1 has lower cosine:
    # member 1 tilts toward the centroid's average direction only if the
    # centroid has positive y; fillers give y = (0.4 - 3 + 0)/4 < 0 so
    # member 1 (y=+0.4) is FARTHER from the centroid and must be kept.
    assert kept == [1]
    assert out[2]["keep"] == 1 and out[3]["keep"] == 1


def test_semantic_dedup_overcap_clusters_are_reported_not_silently_skipped(spark):
    df = _planted_corpus(spark)
    out, dropped = sim.semantic_dedup(
        df, threshold=0.95, n_clusters=2, seed=1,
        max_cluster_size=3, with_dropped=True,   # both clusters have 6 > 3
    )
    drops = {(r["kc"], r["_n"]) for r in dropped.collect()}
    assert {n for _, n in drops} == {6} and len(drops) == 2
    # every doc still gets a verdict — as an untouched singleton
    rows = out.collect()
    assert len(rows) == 12 and all(r["keep"] == 1 for r in rows)


def _blob_corpus(spark, per_blob=20):
    """Two far-apart blobs, each opening with a planted near-dup triple."""
    import random

    rng = random.Random(11)
    rows, vid = [], 0
    for base in ([10.0, 0.0, 0.0, 0.0], [0.0, 10.0, 0.0, 0.0]):
        for _ in range(3):  # near-dup triple (cosine ~1)
            rows.append((vid, [b + rng.uniform(-0.01, 0.01) for b in base]))
            vid += 1
        for j in range(per_blob - 3):  # distinct members of the same blob
            v = list(base)
            v[2] = 5.0 + j * 3.0  # spread far enough to stay under threshold
            v[3] = -5.0 if j % 2 else 5.0
            rows.append((vid, [b + rng.uniform(-0.01, 0.01) for b in v]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def test_semantic_dedup_sample_fit_matches_full_fit(spark):
    """fit_sample_fraction trains the centroids on a bounded sample and
    transforms the full corpus — on a planted two-blob corpus the verdicts
    (components, keeps) must be identical to the full fit, because any
    reasonable 2-means centers separate the blobs."""
    df = _blob_corpus(spark)
    full = {
        r["vec_id"]: (r["cluster_id"], r["keep"])
        for r in sim.semantic_dedup(df, threshold=0.95, n_clusters=2, seed=1).collect()
    }
    sampled = {
        r["vec_id"]: (r["cluster_id"], r["keep"])
        for r in sim.semantic_dedup(
            df, threshold=0.95, n_clusters=2, seed=1, fit_sample_fraction=0.5
        ).collect()
    }
    assert sampled == full
    # degenerate fraction (sample too small for k clusters) falls back to
    # the full fit rather than failing
    tiny = {
        r["vec_id"]: (r["cluster_id"], r["keep"])
        for r in sim.semantic_dedup(
            df, threshold=0.95, n_clusters=2, seed=1, fit_sample_fraction=0.01
        ).collect()
    }
    assert tiny == full


def test_semantic_dedup_single_cluster_matches_brute_cosine_components(spark):
    """With n_clusters=1 the pair relation is exactly {cosine >= tau} over
    the whole corpus, so the reported groups must equal the connected
    components of the brute-force cosine graph — pins the r9
    normalize-then-dot pair predicate against the literal cosine formula
    (rounding differences at the threshold would split/merge groups)."""
    import math
    import random

    rng = random.Random(77)
    rows = []
    for vid in range(40):
        base = [rng.uniform(-1, 1) for _ in range(16)]
        rows.append((vid, base))
        if vid % 4 == 0:  # plant a near-dup of every 4th vector
            rows.append(
                (1000 + vid, [x + rng.uniform(-0.01, 0.01) for x in base])
            )
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    def cos(a, b):
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return sum(x * y for x, y in zip(a, b)) / (na * nb)

    tau = 0.9
    parent = {vid: vid for vid, _ in rows}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, (ia, va) in enumerate(rows):
        for ib, vb in rows[i + 1:]:
            if cos(va, vb) >= tau:
                ra, rb = find(ia), find(ib)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    want = {vid: find(vid) for vid, _ in rows}
    # canonical component id = min member id (the operator's convention)
    comp_min = {}
    for vid, root in want.items():
        comp_min.setdefault(root, []).append(vid)
    want = {
        vid: min(members)
        for root, members in comp_min.items()
        for vid in members
    }

    out = sim.semantic_dedup(
        df, threshold=tau, n_clusters=1, seed=3,
        max_cluster_size=100_000,
    ).collect()
    got = {r["vec_id"]: r["cluster_id"] for r in out}
    assert got == want
    # exactly one keeper per component
    from collections import Counter

    keeps = Counter(r["cluster_id"] for r in out if r["keep"] == 1)
    assert set(keeps) == set(want.values()) and all(
        v == 1 for v in keeps.values()
    )


def test_hybrid_rrf_fusion_planted(spark):
    """Pins the FUSION logic exactly: leg ranks are read back from the two
    already-pinned leg operators (bm25_topk_ppm / dot_topk) and the RRF
    score must equal sum(floor(1e9/(60+rank))) with absent legs
    contributing 0, ties broken by doc_id."""
    from kausaldb_spark.functions import text as tx

    docs = spark.createDataFrame(
        [
            (0, "nothing lexical in the query doc at all"),
            (1, "table join query table join appears a lot here"),
            (2, "plain prose with no search words whatsoever"),
            (3, "one table mention and one join mention and query"),
            (4, "table only appears in this one"),
        ],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0]),   # the query vector
            (1, [0.0, 1.0, 0.0, 0.0]),   # orthogonal
            (2, [0.95, 0.0, 0.0, 0.0]),  # close
            (3, [1.0, 0.0, 0.0, 0.0]),   # identical
            (4, [0.0, -1.0, 0.0, 0.0]),  # anti on another axis
        ],
        "vec_id long, embedding array<float>",
    )
    terms = ["table", "join", "query"]
    k_each = 3
    got = sim.hybrid_rrf_topk(docs, emb, terms, 0, k=10, k_each=k_each).collect()

    lex = {
        r["doc_id"]: r["rank"]
        for r in tx.bm25_topk_ppm(docs, terms, k=k_each).collect()
    }
    vec = {
        r["neighbor_id"]: r["rank"]
        for r in sim.dot_topk(emb, [0], k=k_each).collect()
    }
    expected = {}
    for d in set(lex) | set(vec):
        s = 0
        if d in lex:
            s += 1_000_000_000 // (60 + lex[d])
        if d in vec:
            s += 1_000_000_000 // (60 + vec[d])
        expected[d] = s
    order = sorted(expected, key=lambda d: (-expected[d], d))

    assert [r["doc_id"] for r in got] == order
    for r in got:
        assert r["rrf_score_x1e9"] == expected[r["doc_id"]]
        assert r["bm25_rank"] == lex.get(r["doc_id"])
        assert r["vec_rank"] == vec.get(r["doc_id"])
    # the query doc never appears through the vector leg (self-excluded)
    assert all(r["doc_id"] != 0 for r in got)
    # doc 3 matches strongly on BOTH legs -> fused rank 1
    assert got[0]["doc_id"] == 3 and got[0]["rank"] == 1


def test_lsh_recall_planted(spark, emb):
    """recall_ppm == 1e6 * |exact∩approx| / |exact| computed brute-force
    from the two legs' own outputs (default 8-bit config), then a second
    run at n_bits=1 (2 buckets) pins that the dial works: a wide-bucket
    config must produce solidly nonzero recall on the same fixture."""
    got = {r["query_id"]: r.asDict() for r in sim.lsh_recall(emb, QIDS, k=5).collect()}
    exact = {}
    for r in sim.dot_topk(emb, QIDS, k=5).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx = {}
    for r in sim.lsh_bucketed_topk(emb, QIDS, k=5).collect():
        approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert set(got) == set(exact)
    for q in exact:
        hit = len(exact[q] & approx.get(q, set()))
        assert got[q]["n_exact"] == len(exact[q])
        assert got[q]["n_approx"] == len(approx.get(q, set()))
        assert got[q]["n_hit"] == hit
        assert got[q]["recall_ppm"] == (hit * 1_000_000) // len(exact[q])
    # non-collapse guard AT THE DIAL IT CLAIMS: n_bits=1 halves the corpus
    # into 2 buckets, so each query's candidate pool is ~half the corpus
    # and recall must be solidly nonzero (the default-8-bit run above is
    # near-zero on this tiny fixture BY DESIGN — that's the measurement)
    wide = {
        r["query_id"]: r.asDict()
        for r in sim.lsh_recall(emb, QIDS, k=5, n_bits=1).collect()
    }
    assert any(v["n_hit"] > 0 for v in wide.values())
    assert all(v["n_approx"] == 5 for v in wide.values())


def test_semantic_dedup_rejects_non_integral_id(spark):
    # r10 ADVICE: the GEMM pair scan narrowed the id contract to integral
    # types (its Arrow schema is 'doc_a long, doc_b long'); a string id
    # must fail up front, not deep inside an executor batch
    import pytest

    df = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0])],
        "vec_id string, embedding array<double>",
    )
    with pytest.raises(TypeError, match="integral"):
        sim.semantic_dedup(df, n_clusters=2, seed=1)
