"""Product-quantization ANN pins (functions/similarity.py PQ section).

PQ's training is k-means (not SQL-expressible), so the driver gate
is rows-only; these tests carry the correctness weight: ADC arithmetic is
pinned EXACTLY against hand-built codebooks and a brute-force integer
model, and the recall invariants against the module's own exact leg.
"""

import numpy as np
import pandas as pd
import pytest

from kausaldb_spark.functions import similarity as sm


def _book(codebooks):
    m = len(codebooks)
    sub = len(codebooks[0][0])
    return {
        "pq_v": sm.PQ_VERSION,
        "m": m,
        "n_codes": len(codebooks[0]),
        "dim": m * sub,
        "codebooks": codebooks,
    }


def _int_dot(a, b):
    qa = [sm._q1000(x) for x in a]
    qb = [sm._q1000(x) for x in b]
    return sum(x * y for x, y in zip(qa, qb))


def test_adc_tables_match_brute_force_int_dot():
    codebooks = [
        [[0.1, -0.2], [1.5, 0.25]],
        [[-1.0, 2.0], [0.0, 0.5]],
    ]
    book = _book(codebooks)
    q = [0.3, 0.7, -0.4, 1.1]
    tables = sm._adc_tables(q, book)
    for j in range(2):
        for c in range(2):
            assert tables[j][c] == _int_dot(
                q[2 * j : 2 * j + 2], codebooks[j][c]
            )


def test_pq_encode_assigns_nearest_centroid(spark):
    codebooks = [
        [[0.0, 0.0], [10.0, 10.0]],
        [[-5.0, 0.0], [5.0, 0.0]],
    ]
    book = _book(codebooks)
    rows = [
        (1, [0.1, -0.1, 4.0, 0.2]),   # -> codes [0, 1]
        (2, [9.0, 11.0, -4.5, 0.0]),  # -> codes [1, 0]
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["vec_id"]: list(r["codes"]) for r in sm.pq_encode(df, book).collect()}
    assert got == {1: [0, 1], 2: [1, 0]}


def test_adc_score_exact_when_vectors_are_reconstructions(spark):
    """Vectors lying exactly on codebook concatenations reconstruct
    losslessly, so the ADC score must equal the exact quantized dot —
    pinning the whole codegen lookup chain (zip_with/element_at/aggregate)
    against the driver-side integer model."""
    codebooks = [
        [[0.5, 1.0], [-1.0, 0.25]],
        [[2.0, -0.5], [0.0, 1.5]],
    ]
    book = _book(codebooks)
    vecs = {
        10: codebooks[0][0] + codebooks[1][0],
        11: codebooks[0][0] + codebooks[1][1],
        12: codebooks[0][1] + codebooks[1][0],
        13: codebooks[0][1] + codebooks[1][1],
    }
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<float>"
    )
    out = sm.pq_topk(df, [10], k=3, book=book).collect()
    assert [r["neighbor_id"] for r in out] != []
    for r in out:
        assert r["dot"] == _int_dot(vecs[10], vecs[r["neighbor_id"]])
    # ADC == exact here, so the ranking must equal dot_topk's
    exact = sm.dot_topk(df, [10], k=3).collect()
    assert [(r["neighbor_id"], r["dot"]) for r in out] == [
        (r["neighbor_id"], r["dot"]) for r in exact
    ]


def _clustered(spark, n=80, dim=32, n_clusters=4, seed=7):
    rng = np.random.RandomState(seed)
    centers = rng.randn(n_clusters, dim) * 3
    rows = []
    for i in range(n):
        c = i % n_clusters
        rows.append((i, (centers[c] + rng.randn(dim) * 0.05).tolist()))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_pq_recall_invariants_and_rerank_exactness(spark):
    df = _clustered(spark)
    qids = [0, 1, 2]
    r = {x["query_id"]: x for x in sm.pq_recall(df, qids, k=5, m=4).collect()}
    assert set(r) == set(qids)
    for x in r.values():
        assert x["n_exact"] == 5 and 0 <= x["n_hit"] <= 5
        assert x["recall_ppm"] == x["n_hit"] * 1_000_000 // 5
    # rerank depth = corpus: the exact refinement scores every candidate,
    # so the result IS the exact top-k -> recall exactly 1e6
    full = sm.pq_recall(df, qids, k=5, m=4, rerank=100).collect()
    assert all(x["recall_ppm"] == 1_000_000 for x in full)


def test_pq_train_determinism_and_dim_guard(spark):
    df = _clustered(spark, n=40)
    b1 = sm.pq_train(df, m=4, n_codes=4, seed=11)
    b2 = sm.pq_train(df, m=4, n_codes=4, seed=11)
    assert b1 == b2
    assert b1["dim"] == 32 and len(b1["codebooks"]) == 4
    assert all(len(cb) == 4 for cb in b1["codebooks"])
    with pytest.raises(ValueError, match="not divisible"):
        sm.pq_train(df, m=5)


def test_pq_index_roundtrip_and_version_refusal(spark):
    import json

    df = _clustered(spark, n=40)
    book = sm.pq_train(df, m=4, n_codes=4)
    assert book["pq_v"] == sm.PQ_VERSION
    # a codebook persisted as JSON and passed back reproduces the fit
    stored = json.loads(json.dumps(book))
    got = sm.pq_topk(df, [0, 1], k=3, book=stored).collect()
    fresh = sm.pq_topk(df, [0, 1], k=3, m=4, n_codes=4).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, fresh))
    # tamper the version stamp -> loud refusal, not wrong distances
    stored["pq_v"] = sm.PQ_VERSION + 1
    with pytest.raises(ValueError, match="version"):
        sm.pq_topk(df, [0], k=3, book=stored)


def test_pq_compression_shape(spark):
    df = _clustered(spark, n=20)
    book = sm.pq_train(df, m=8, n_codes=4, seed=3)
    codes = sm.pq_encode(df, book)
    assert codes.columns == ["vec_id", "codes"]
    row = codes.first()
    assert len(row["codes"]) == 8  # 32 float dims -> 8 small codes
    assert all(0 <= c < 4 for c in row["codes"])
