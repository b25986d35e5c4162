"""Similarity search over embedding columns (array<float>).

Two paths:
- ``dot_topk``: brute-force top-k by quantized integer dot product — the
  exactness baseline. Quantization (floor(x*1000 + 0.5) → bigint) makes the
  score integer-exact and therefore engine-portable (the float dot product
  is order-of-summation dependent; the int one is not). The query set is
  broadcast; the scan is a single pass over the corpus — at 100 TB this is
  the classic "broadcast the queries, never shuffle the corpus" shape.
- ``lsh_bucketed_topk``: sign-LSH (hyperplane = coordinate axes of the first
  ``n_bits`` dims) pre-bucket, probing only the query's bucket — the scale
  path trading recall for a corpus-partition-pruned scan. Buckets are
  computable per-row (no fitting), so the corpus can be *written* partitioned
  by bucket and the probe becomes partition pruning.
- ``float_cosine``: float cosine via built-in array ops (zip_with/aggregate)
  for real use; not oracle-gated (float).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

QUANT_SCALE = 1000


def quantized(vec: Column) -> Column:
    """array<float> → array<bigint>, floor(x*scale + 0.5) (identical rounding
    in every engine, unlike round() whose half-rule differs)."""
    return F.transform(
        vec, lambda x: F.floor(x.cast("double") * QUANT_SCALE + F.lit(0.5)).cast("bigint")
    )


def int_dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def float_cosine(a: Column, b: Column) -> Column:
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    def norm(v):
        return F.sqrt(
            F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
        )
    return dot / (norm(a) * norm(b))


def dot_topk(
    embeddings: DataFrame, query_ids: list[int], k: int = 5, id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors by quantized dot product for each query id.
    Output: (query_id, neighbor_id, rank, dot) — all integers.
    Ties break by neighbor id (deterministic)."""
    q = (
        embeddings.where(F.col(id_col).isin(query_ids))
        .select(F.col(id_col).alias("query_id"), quantized(F.col(vec_col)).alias("qv"))
    )
    corpus = embeddings.select(
        F.col(id_col).alias("neighbor_id"), quantized(F.col(vec_col)).alias("cv")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(corpus)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", int_dot(F.col("qv"), F.col("cv")).alias("dot"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dot").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "dot")
    )


def hybrid_rrf_topk(
    docs: DataFrame, embeddings: DataFrame, query_terms: list[str],
    query_vec_id: int, k: int = 20, k_each: int = 50, rrf_k: int = 60,
    doc_id_col: str = "doc_id", vec_id_col: str = "vec_id",
) -> DataFrame:
    """Hybrid retrieval: fixed-point BM25 lexical leg + exact quantized
    cosine vector leg, fused by Reciprocal Rank Fusion (Cormack, Clarke &
    Büttcher 2009): ``score = Σ_legs 1/(rrf_k + rank)``. RRF is the
    standard public fusion rule precisely because it consumes only RANKS
    — the two legs' incomparable score scales (ppm BM25 vs integer dot)
    never meet, so the integer-exactness of both legs carries through:
    the fused score is ``Σ floor(1e9/(rrf_k+rank))`` in exact bigint
    arithmetic, giving a full value-hash oracle row.

    Retrieval semantics: each leg contributes its top ``k_each``; a doc
    absent from a leg contributes 0 from that leg (the published
    convention). Ties break by doc id. The vector leg treats the
    query-doc's own embedding as the query (vec_id == doc_id in the
    corpus contract) and never returns the query doc itself.

    Distributed shape = the union of the legs' shapes, both already
    scale-audited: BM25 is one single-row stats broadcast + a scoring
    scan + a TakeOrdered heap; the vector leg broadcasts the single query
    vector over one corpus scan + TakeOrdered. The fusion itself joins
    two ≤``k_each``-row lists — driver-trivial at any corpus size.

    Output: (doc_id, bm25_rank, vec_rank, rrf_score_x1e9, rank)."""
    from .text import bm25_topk_ppm

    lex = bm25_topk_ppm(docs, query_terms, k=k_each, id_col=doc_id_col).select(
        F.col("doc_id"), F.col("rank").alias("bm25_rank")
    )
    vec = dot_topk(embeddings, [query_vec_id], k=k_each, id_col=vec_id_col).select(
        F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("vec_rank")
    )
    SCALE = 1_000_000_000

    def _leg(rank_col):
        # exact bigint floor (house rule): subtract the remainder first so
        # the division is integral before any float/decimal rounding
        a = F.lit(SCALE).cast("bigint")
        b = (F.lit(rrf_k) + rank_col).cast("bigint")
        return F.coalesce(((a - a % b) / b).cast("bigint"), F.lit(0).cast("bigint"))

    fused = lex.join(vec, "doc_id", "full_outer").select(
        "doc_id",
        F.col("bm25_rank").cast("int").alias("bm25_rank"),
        F.col("vec_rank").cast("int").alias("vec_rank"),
        (_leg(F.col("bm25_rank")) + _leg(F.col("vec_rank")))
        .cast("bigint")
        .alias("rrf_score_x1e9"),
    )
    w = Window.orderBy(F.col("rrf_score_x1e9").desc(), F.col("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
    )


def lsh_recall(
    embeddings: DataFrame, query_ids: list[int], k: int = 5, n_bits: int | None = 8,
    id_col: str = "vec_id", vec_col: str = "embedding", multi_probe: bool = False,
) -> DataFrame:
    """Recall@k of the sign-LSH path against the exact baseline — the
    quality dial every approximate-ANN deployment tunes (probe more
    buckets / more bits ⇒ recall↑, scan↑). Both legs are this module's
    own integer-exact operators with deterministic tie-breaks, so recall
    is a reproducible integer, not a float estimate: recall_ppm =
    floor(1e6 · |exact∩approx| / |exact|).

    Distributed shape: the two legs' shapes (query-broadcast corpus
    scans), then joins/aggregates over ≤|Q|·k rows — driver-trivial.
    Output: (query_id, n_exact, n_approx, n_hit, recall_ppm)."""
    exact = dot_topk(embeddings, query_ids, k=k, id_col=id_col, vec_col=vec_col)
    approx = lsh_bucketed_topk(
        embeddings, query_ids, k=k, n_bits=n_bits, id_col=id_col,
        vec_col=vec_col, multi_probe=multi_probe,
    )
    return _recall_vs_exact(exact, approx)


def _recall_vs_exact(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """(query_id, n_exact, n_approx, n_hit, recall_ppm) from two ranked
    (query_id, neighbor_id, …) frames. All joins/aggregates run over
    ≤|Q|·k rows — driver-trivial after the legs."""
    hits = exact.select("query_id", "neighbor_id").join(
        approx.select("query_id", "neighbor_id").withColumn("_hit", F.lit(1)),
        ["query_id", "neighbor_id"],
        "left",
    )
    per_q = hits.groupBy("query_id").agg(
        F.count("*").cast("int").alias("n_exact"),
        F.coalesce(F.sum("_hit"), F.lit(0)).cast("int").alias("n_hit"),
    )
    n_approx = approx.groupBy("query_id").agg(
        F.count("*").cast("int").alias("n_approx")
    )
    num = (F.col("n_hit") * F.lit(1_000_000)).cast("bigint")
    den = F.col("n_exact").cast("bigint")
    return (
        per_q.join(n_approx, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce(F.col("n_approx"), F.lit(0)).cast("int").alias("n_approx"),
            "n_hit",
            # exact bigint floor (house rule); n_exact >= 1 because the
            # corpus always outnumbers k in any gated configuration
            ((num - num % den) / den).cast("bigint").alias("recall_ppm"),
        )
    )


def sign_bucket(vec: Column, n_bits: int = 8) -> Column:
    """Sign-LSH bucket from the first n_bits coordinates (>=0 → 1)."""
    bucket = None
    for j in range(n_bits):
        bit = F.when(F.element_at(vec, j + 1) >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return bucket.cast("int")


def auto_n_bits(n_rows: int, target_bucket: int, max_bits: int = 24) -> int:
    """Bits so the *expected* bucket size n_rows / 2^bits lands at about
    HALF of ``target_bucket`` (the degenerate-bucket cap): bits =
    ceil(log2(2n / cap)), clamped to [1, max_bits]. The 2× headroom
    matters — at expected size == cap the binomial spread puts roughly a
    third of buckets just over the cap and the guard drops them; at cap/2
    the over-cap tail is negligible for anything but true pathological
    collisions (e.g. all-zero vectors).

    The r5 verdict's finding #3: a FIXED n_bits=8 means 256 buckets
    forever — at real corpus scale every bucket exceeds the cap and the
    guard (built to drop pathological collisions) silently drops nearly
    all data. Deriving bits from the corpus count keeps buckets ≈ cap at
    any scale; ``max_bits`` bounds the bucket count at ~16M (beyond that,
    partition-pruned probing dominates anyway)."""
    import math

    if n_rows <= target_bucket:
        return 1
    return max(1, min(max_bits, math.ceil(math.log2(2 * n_rows / target_bucket))))


def _resolve_bits(embeddings: DataFrame, n_bits: int | None, target_bucket: int,
                  vec_col: str) -> int:
    """n_bits=None → derive from the corpus count (one cheap count job) and
    the embedding dimensionality (sign_bucket reads the first n_bits
    coordinates, so bits can never exceed dim)."""
    if n_bits is not None:
        return n_bits
    first = embeddings.select(F.size(F.col(vec_col)).alias("d")).first()
    dim = int(first["d"]) if first is not None else 1
    return min(max(dim, 1), auto_n_bits(embeddings.count(), target_bucket))


def lsh_bucketed_topk(
    embeddings: DataFrame, query_ids: list[int], k: int = 5, n_bits: int | None = 8,
    id_col: str = "vec_id", vec_col: str = "embedding", multi_probe: bool = False,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign bucket.
    Same output schema as dot_topk. Queries whose bucket holds < k neighbors
    return fewer rows (recall tradeoff, by design).

    ``n_bits=None`` derives the bit count from the corpus size
    (``auto_n_bits`` — expected bucket ≈ the degenerate cap at any scale);
    the gated entry query pins ``n_bits=8`` because its DuckDB oracle is a
    static SQL string. ``multi_probe=True`` additionally probes every
    bucket at Hamming distance 1 from the query's (n_bits extra buckets
    per query — recovers the neighbors that sit just across one
    hyperplane, the standard recall repair when bits grow with scale)."""
    from kausaldb_spark.functions.dedup import MAX_LSH_BUCKET

    n_bits = _resolve_bits(embeddings, n_bits, MAX_LSH_BUCKET, vec_col)
    with_bucket = embeddings.select(
        F.col(id_col), F.col(vec_col), sign_bucket(F.col(vec_col), n_bits).alias("bucket")
    )
    q = (
        with_bucket.where(F.col(id_col).isin(query_ids))
        .select(F.col(id_col).alias("query_id"), quantized(F.col(vec_col)).alias("qv"), "bucket")
    )
    if multi_probe:
        probes = F.array(
            F.col("bucket"), *[
                F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(n_bits)
            ]
        )
        q = q.select(
            "query_id", "qv", F.explode(probes).alias("bucket")
        )
    corpus = with_bucket.select(
        F.col(id_col).alias("neighbor_id"), quantized(F.col(vec_col)).alias("cv"), "bucket"
    )
    scored = (
        F.broadcast(q)
        .join(corpus, "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", int_dot(F.col("qv"), F.col("cv")).alias("dot"))
    )
    if multi_probe:  # a neighbor can match via several probe buckets
        scored = scored.distinct()
    w = Window.partitionBy("query_id").orderBy(F.col("dot").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "dot")
    )


def _fit_kmeans(feats, n_clusters: int, seed: int,
                fit_sample_fraction: float | None):
    """Fit MLlib k-means on ``feats`` or, with ``fit_sample_fraction`` set,
    on a seeded Bernoulli sample of it — the 100 TB shape: centroids from a
    bounded sample, ``transform`` over the full corpus (centroid quality
    converges long before the full pass; the paper-standard SemDeDup
    training recipe). Falls back to the full fit when the sample is too
    small to carry ``n_clusters`` distinct centers.

    The relation actually fit is pinned for the duration of the fit
    (narrow ``features``-only projection, unpersisted before returning):
    MLlib's Lloyd iterations re-evaluate their input per iteration, so
    maxIter=10 cost ten scan+vector-conversion passes over the SAME rows
    (guide §5; measured 5.2 → 1.9 s at sf0.1, centers bit-identical —
    same input rows, same seed, same trajectory). At 100 TB the
    production path sets ``fit_sample_fraction`` so the pinned relation
    is the bounded sample, never the corpus."""
    from pyspark import StorageLevel
    from pyspark.ml.clustering import KMeans

    km = KMeans(k=n_clusters, seed=seed, maxIter=10)
    fit_input = feats
    if fit_sample_fraction is not None and 0 < fit_sample_fraction < 1:
        sample = feats.sample(fraction=fit_sample_fraction, seed=seed)
        if sample.count() >= n_clusters * 2:
            fit_input = sample
    pinned = fit_input.select("features").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        return km.fit(pinned)
    finally:
        pinned.unpersist()


def embedding_near_duplicates(
    embeddings: DataFrame, min_dot: int, n_bits: int | None = 8,
    id_col: str = "vec_id", vec_col: str = "embedding",
    max_bucket_size: int | None = None, with_dropped: bool = False,
) -> DataFrame:
    """Embedding-similarity near-dup pairs: sign-LSH bucketing, then exact
    quantized dot >= min_dot within each bucket. Output (id_a, id_b, dot).

    ``n_bits=None`` auto-scales the bucket count to the corpus
    (``auto_n_bits``): with a FIXED 8 bits, a real corpus makes every one
    of the 256 buckets exceed the degenerate cap, and the quadratic guard
    silently drops nearly all data (r5 verdict finding #3). The gated
    entry query pins 8 (static oracle). ``with_dropped=True`` returns
    ``(pairs, dropped)`` where ``dropped`` is the (bucket, _n) relation of
    over-cap buckets — the same visibility ``dedup.capped_buckets`` gives
    the MinHash path; a non-empty ``dropped`` at auto-scaled bits means
    true pathological collisions (e.g. zero vectors), not under-bucketing.

    Shape: ONE shuffle (by bucket). The degenerate-bucket guard
    (``max_bucket_size``, default dedup.MAX_LSH_BUCKET — e.g. thousands of
    zero vectors landing in one sign bucket) is a window count over that
    same shuffle: WindowExec buffers per-group with disk spill, so an
    oversized bucket is filtered out *before* ``collect_list`` ever
    materializes it, keeping every in-memory pair array ≤ cap rows. Pair
    generation is then a per-bucket array self-product (higher-order
    transform, JVM-side) — the r2 formulation (separate count pass +
    bucket-filter join + bucket self-join) cost two extra jobs that
    dominated wall-clock at small corpus sizes and an extra full shuffle at
    large ones."""
    from kausaldb_spark.functions.dedup import MAX_LSH_BUCKET

    if max_bucket_size is None:
        max_bucket_size = MAX_LSH_BUCKET
    n_bits = _resolve_bits(embeddings, n_bits, max_bucket_size, vec_col)
    with_bucket = embeddings.select(
        F.col(id_col).alias("id"), quantized(F.col(vec_col)).alias("qv"),
        sign_bucket(F.col(vec_col), n_bits).alias("bucket"),
    )
    wn = Window.partitionBy("bucket")
    sized = with_bucket.withColumn("_n", F.count("*").over(wn))
    capped = sized.where(F.col("_n") <= max_bucket_size)
    grouped = capped.groupBy("bucket").agg(
        F.collect_list(F.struct("id", "qv")).alias("xs")
    )
    pairs = grouped.select(
        F.explode(
            F.flatten(
                F.transform(
                    "xs",
                    lambda x, i: F.transform(
                        F.slice(F.col("xs"), i + F.lit(2), F.size(F.col("xs"))),
                        lambda y: F.struct(
                            x["id"].alias("ia"),
                            y["id"].alias("ib"),
                            int_dot(x["qv"], y["qv"]).alias("dot"),
                        ),
                    ),
                )
            )
        ).alias("p")
    )
    out = (
        pairs.select(
            F.least("p.ia", "p.ib").alias("id_a"),
            F.greatest("p.ia", "p.ib").alias("id_b"),
            F.col("p.dot").alias("dot"),
        )
        .where(F.col("dot") >= min_dot)
    )
    if with_dropped:
        dropped = (
            sized.where(F.col("_n") > max_bucket_size)
            .select("bucket", F.col("_n").cast("bigint"))
            .distinct()
        )
        return out, dropped
    return out


def semantic_dedup(
    embeddings: DataFrame, threshold: float = 0.95,
    n_clusters: int | None = None, seed: int = 42,
    id_col: str = "vec_id", vec_col: str = "embedding",
    max_cluster_size: int = 10_000, with_dropped: bool = False,
    fit_sample_fraction: float | None = None,
    target_cluster_size: int = 256,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embedding space, form near-dup
    groups inside each cluster by cosine >= ``threshold``, and keep ONE
    representative per group — the member FARTHEST from its centroid
    (the paper's keep-low-centroid-similarity rule, which preserves
    diversity near cluster edges); ties break to the smaller id.

    Returns (vec_id, cluster_id, keep int). ``cluster_id`` is the min
    vec_id of the near-dup component (same convention as
    ``dedup.near_dup_clusters``); docs with no >= threshold neighbor in
    their k-means cluster appear with themselves as a singleton component
    and keep=1.

    Scale shape: the k-means assignment is one pass (MLlib); candidate
    pairs are generated per k-means cluster with the same window-count
    degenerate-cluster guard as the LSH paths (an over-``max_cluster_size``
    cluster is skipped, never made quadratic — raise ``n_clusters`` so
    expected cluster size stays bounded: n_clusters ~ N / target). The
    pair relation is duplication-rate-sized; components come from the same
    bounded union-find / distributed-WCC fallback as near_dup_clusters.
    This is pytest-pinned (k-means is not SQL-expressible for the DuckDB
    oracle).

    ``with_dropped=True`` returns ``(verdicts, dropped)`` where dropped is
    the (kc, _n) relation of skipped over-cap clusters — same visibility
    contract as ``dedup.capped_buckets`` / ``embedding_near_duplicates``:
    a silently skipped cluster must never read as "deduped".

    ``id_col`` must be an INTEGRAL type (the r10 GEMM pair scan emits
    ``doc_a long, doc_b long`` at its Arrow boundary; the pre-r10 self-join
    accepted any orderable id). Validated up front so a string id fails
    here, not deep inside an executor Arrow cast (r10 ADVICE).
    """
    try:
        from pyspark.ml.clustering import KMeans  # noqa: F401 — availability probe
        from pyspark.ml.functions import array_to_vector
    except ImportError:  # pragma: no cover - mllib ships with pyspark
        raise RuntimeError("semantic_dedup requires pyspark.ml")

    id_type = embeddings.schema[id_col].dataType.simpleString()
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"semantic_dedup requires an integral {id_col!r} "
            f"(got {id_type}): the per-cluster GEMM pair scan emits "
            "bigint ids at its Arrow boundary"
        )

    if n_clusters is None:
        # auto-scale k with the corpus so expected cluster size stays at
        # target_cluster_size: intra-cluster candidate pairs are then
        # ~n·target/2 — LINEAR in n. The r7 sf1 rehearsal caught the fixed
        # k=16 default going quadratic (250 s at 10x data) — the same
        # fixed-parameterization bug class as r5's fixed sign-LSH bits.
        n = embeddings.count()
        n_clusters = max(2, -(-n // max(1, target_cluster_size)))

    feats = embeddings.select(
        F.col(id_col), F.col(vec_col),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"),
    )
    model = _fit_kmeans(feats, max(2, n_clusters), seed, fit_sample_fraction)
    centers = [[float(x) for x in c] for c in model.clusterCenters()]
    spark = embeddings.sparkSession
    cdf = F.broadcast(spark.createDataFrame(
        [(i, c) for i, c in enumerate(centers)],
        "kc int, center array<double>",
    ))
    assigned = (
        model.transform(feats)
        .select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
            F.col("prediction").alias("kc"),
        )
        .join(cdf, "kc")
        .select(
            "id", "v", "kc",
            float_cosine(F.col("v").cast("array<double>"), F.col("center"))
            .alias("centroid_sim"),
        )
    )
    wn = Window.partitionBy("kc")
    sized = assigned.withColumn("_n", F.count("*").over(wn))
    capped = sized.where(F.col("_n") <= max_cluster_size)
    # intra-cluster candidate pairs as ONE Arrow-batched GEMM per k-means
    # cluster (r10). Lineage of this hot loop, each step measured at sf1:
    # collect_list + nested-transform explode (r7) -> kc-keyed self-join
    # with codegen'd zip_with dot (r8, ~2x better) -> pre-normalized
    # vectors so the predicate is a bare dot (r9, 30 -> 17.8 s) -> this:
    # higher-order-function lambdas are INTERPRETED per element, so the
    # self-join still paid ~target_cluster_size/2 * dim lambda evals per
    # vector; a per-cluster V @ V.T in numpy (BLAS) does the same dots at
    # vector-unit speed. applyInPandas groups by kc — exactly the dense
    # linear algebra case the DataFrame API can't express natively; the
    # Arrow boundary is documented and plan-guard-allowlisted. Memory is
    # bounded two ways: clusters over max_cluster_size were dropped above
    # (reported via with_dropped), and the GEMM runs in 1024-row blocks so
    # a cap-sized cluster peaks at ~1024*max_cluster_size doubles, not
    # n^2. Rows sort by id inside the group, so block row i < column j
    # implies id_i < id_j — the (doc_a < doc_b) contract without a second
    # pass. A zero vector normalizes to NaN, NaN >= t is False, so it
    # pairs with nothing — same outcome as cosine's 0/0.
    nrm = F.sqrt(
        F.aggregate(
            "v", F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")
        )
    )
    unit = capped.select(
        "kc", "id", F.transform("v", lambda x: x.cast("double") / nrm).alias("vn")
    )

    thr = float(threshold)

    def _gemm_pairs(pdf):
        import numpy as np
        import pandas as pd

        ids = pdf["id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        v = np.stack(pdf["vn"].to_numpy()[order]).astype(np.float64)
        n = len(ids)
        out_a, out_b = [], []
        block = 1024
        for s in range(0, n, block):
            g = v[s:s + block] @ v.T  # (b, n) dots
            with np.errstate(invalid="ignore"):
                mask = g >= thr  # NaN rows/cols -> False
            for k in range(mask.shape[0]):
                mask[k, : s + k + 1] = False  # keep strictly id_a < id_b
            ai, bj = np.nonzero(mask)
            out_a.append(ids[ai + s])
            out_b.append(ids[bj])
        if not out_a:
            return pd.DataFrame(
                {
                    "doc_a": pd.Series([], dtype="int64"),
                    "doc_b": pd.Series([], dtype="int64"),
                }
            )
        return pd.DataFrame(
            {
                "doc_a": np.concatenate(out_a).astype("int64"),
                "doc_b": np.concatenate(out_b).astype("int64"),
            }
        )

    pairs = unit.groupBy("kc").applyInPandas(
        _gemm_pairs, "doc_a long, doc_b long"
    )

    from kausaldb_spark.functions.dedup import components_from_pairs

    comp = components_from_pairs(spark, pairs)  # (doc_id, cluster_id)
    # keep rule: per component, max centroid-distance == min centroid_sim;
    # ties to min id. max_by over a (sim, id) struct — no per-component sort.
    member = assigned.join(
        comp, assigned["id"] == comp["doc_id"], "left"
    ).select(
        "id", "centroid_sim",
        F.coalesce(comp["cluster_id"], assigned["id"]).alias("cluster_id"),
    )
    keeper = member.groupBy("cluster_id").agg(
        F.min_by(
            "id", F.struct(F.col("centroid_sim").alias("s"), F.col("id").alias("i"))
        ).alias("keep_id")
    )
    out = (
        member.join(keeper, "cluster_id")
        .select(
            F.col("id").alias(id_col),
            F.col("cluster_id"),
            (F.col("id") == F.col("keep_id")).cast("int").alias("keep"),
        )
    )
    if with_dropped:
        dropped = (
            sized.where(F.col("_n") > max_cluster_size)
            .select("kc", F.col("_n").cast("bigint"))
            .distinct()
        )
        return out, dropped
    return out


# ---------------------------------------------------------------------------
# product quantization (Jegou, Douze, Schmid 2011) — the memory-compression
# ANN path
# ---------------------------------------------------------------------------

#: codebook schema version — a codebook built by a different code scheme
#: must be REFUSED loudly, same contract as dedup's minhash sig_v
PQ_VERSION = 1


def _kmeans_np(X, k: int, seed: int, iters: int = 20):
    """Seeded numpy Lloyd with k-means++ init — deterministic, vectorized
    (the assignment step is one GEMM per iteration). Empty clusters keep
    their previous center."""
    import numpy as np

    rng = np.random.RandomState(seed)
    n = len(X)
    centers = np.empty((k, X.shape[1]), dtype=np.float64)
    centers[0] = X[rng.randint(n)]
    d2 = ((X - centers[0]) ** 2).sum(axis=1)
    for j in range(1, k):
        tot = d2.sum()
        p = d2 / tot if tot > 0 else np.full(n, 1.0 / n)
        centers[j] = X[rng.choice(n, p=p)]
        d2 = np.minimum(d2, ((X - centers[j]) ** 2).sum(axis=1))
    for _ in range(iters):
        dists = (
            (centers**2).sum(axis=1)[None, :] - 2.0 * (X @ centers.T)
        )
        assign = dists.argmin(axis=1)
        for j in range(k):
            pts = X[assign == j]
            if len(pts):
                centers[j] = pts.mean(axis=0)
    return centers


def pq_train(
    embeddings: DataFrame, m: int = 8, n_codes: int = 16, seed: int = 42,
    vec_col: str = "embedding", fit_sample_fraction: float | None = None,
    max_train_rows: int = 100_000,
) -> dict:
    """Train per-subspace PQ codebooks: split each d-dim vector into ``m``
    contiguous subvectors of d/m dims, k-means each subspace to ``n_codes``
    centroids. Returns ``{"pq_v", "m", "n_codes", "dim", "codebooks"}``
    with codebooks[j] sorted lexicographically (code assignment is then a
    pure function of the float values alone).

    100 TB shape — and the reason training is DRIVER-side numpy: PQ
    codebooks are standardly trained on a bounded in-memory sample (the
    FAISS recipe), because centroid quality converges at ~10^4-10^5
    vectors no matter the corpus size. The sample is collected ONCE
    (``fit_sample_fraction`` + the hard ``max_train_rows`` cap: <=100k x
    64 dims = 51 MB driver memory) and the m subspace fits are seeded
    vectorized Lloyd — milliseconds, no per-fit job latency. The CORPUS
    never moves: encoding is one distributed scan (:func:`pq_encode`).

    Determinism: exact for a fixed data layout (the seeded sample and the
    ``limit`` row choice depend on partition order, like MLlib's own
    sampled fits); codebooks are centroids, so layout changes perturb
    them only marginally — keep the returned codebook and pass it back
    (``pq_topk(book=...)``) when bit-identical codes must survive a
    re-partition."""
    import numpy as np

    rows = embeddings.select(F.col(vec_col).alias("_v"))
    if fit_sample_fraction is not None and 0 < fit_sample_fraction < 1:
        sampled = rows.sample(fraction=fit_sample_fraction, seed=seed)
        got = sampled.limit(max_train_rows).collect()
        if len(got) < n_codes * 2:
            got = rows.limit(max_train_rows).collect()
    else:
        got = rows.limit(max_train_rows).collect()
    X = np.asarray([list(r["_v"]) for r in got], dtype=np.float64)
    if X.ndim != 2 or len(X) < n_codes:
        raise ValueError(
            f"need >= n_codes={n_codes} training vectors, got {len(X)}"
        )
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    codebooks = [
        sorted(
            [float(x) for x in c]
            for c in _kmeans_np(X[:, j * sub : (j + 1) * sub], n_codes, seed + j)
        )
        for j in range(m)
    ]
    return {
        "pq_v": PQ_VERSION, "m": m, "n_codes": n_codes, "dim": dim,
        "codebooks": codebooks,
    }


def pq_encode(
    embeddings: DataFrame, book: dict, id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>) — nearest codebook centroid per subspace.

    64 float32 dims (256 B) become m=8 single-byte codes: a 32x
    compression, the property that lets a 100 TB embedding corpus keep its
    codes hot in memory and touch full vectors only for reranking. One
    Arrow ``mapInPandas`` stage (documented Python boundary, same policy as
    semantic_dedup's GEMM): per batch, per subspace, the squared-distance
    argmin is one numpy GEMM — never a per-row loop."""
    import numpy as np
    import pandas as pd

    m, dim = book["m"], book["dim"]
    sub = dim // m
    cents = [np.asarray(cb, dtype=np.float64) for cb in book["codebooks"]]
    cnorms = [(c * c).sum(axis=1) for c in cents]

    def batch_fn(batches):
        for pdf in batches:
            if len(pdf) == 0:  # Arrow may deliver empty batches
                yield pd.DataFrame({id_col: pd.Series(dtype="int64"),
                                    "codes": pd.Series(dtype="object")})
                continue
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            if X.ndim != 2 or X.shape[1] != dim:
                raise ValueError(f"expected {dim}-dim vectors")
            codes = np.empty((len(X), m), dtype=np.int32)
            for j in range(m):
                Xj = X[:, j * sub : (j + 1) * sub]
                # ||x-c||^2 = ||x||^2 - 2xc + ||c||^2; ||x||^2 constant per
                # row, irrelevant to the argmin
                d2 = cnorms[j][None, :] - 2.0 * (Xj @ cents[j].T)
                codes[:, j] = np.argmin(d2, axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].astype("int64"),
                    "codes": list(codes),
                }
            )

    return embeddings.select(id_col, vec_col).mapInPandas(
        batch_fn, f"{id_col} long, codes array<int>"
    )


def _q1000(x: float) -> int:
    """Driver-side twin of :func:`quantized` (floor(x*1000 + 0.5))."""
    import math

    return math.floor(float(x) * QUANT_SCALE + 0.5)


def _adc_tables(vec, book: dict) -> list[list[int]]:
    """Integer ADC lookup tables for one query: tables[j][c] = quantized
    dot of the query's j-th subvector with codebook centroid c. The ADC
    score sum_j tables[j][code_j] is then exactly int_dot(query,
    reconstruction) — same integer-exact scoring convention as dot_topk,
    so recall against the exact leg is a reproducible integer."""
    m, dim = book["m"], book["dim"]
    sub = dim // m
    qq = [_q1000(x) for x in vec]
    return [
        [
            sum(
                qq[j * sub + t] * _q1000(c[t])
                for t in range(sub)
            )
            for c in book["codebooks"][j]
        ]
        for j in range(m)
    ]


def pq_topk(
    embeddings: DataFrame, query_ids: list[int], k: int = 5, m: int = 8,
    n_codes: int = 16, seed: int = 42, rerank: int | None = None,
    id_col: str = "vec_id", vec_col: str = "embedding",
    book: dict | None = None, fit_sample_fraction: float | None = None,
) -> DataFrame:
    """Approximate top-k by PQ asymmetric distance (ADC): queries keep
    their exact subvectors, corpus rows are scored through the m-byte
    codes alone. Output (query_id, neighbor_id, rank, dot) like dot_topk.

    Shape: the per-query lookup tables (m x n_codes ints) are built
    driver-side and BROADCAST; scoring is one pass over the codes relation
    in pure codegen (zip_with + element_at + aggregate — no UDF in the hot
    path), then TakeOrdered-per-query. With ``rerank=R`` the top R
    ADC candidates per query are re-scored with the exact quantized dot
    (one semi-join back to the full vectors) — the standard
    PQ-shortlist-then-exact refinement, still reading only R full vectors
    per query instead of the corpus."""
    if book is None:
        book = pq_train(
            embeddings, m=m, n_codes=n_codes, seed=seed, vec_col=vec_col,
            fit_sample_fraction=fit_sample_fraction,
        )
    if book.get("pq_v") != PQ_VERSION:
        raise ValueError(
            f"pq index version {book.get('pq_v')} != code version {PQ_VERSION}"
        )
    codes = pq_encode(embeddings, book, id_col=id_col, vec_col=vec_col)
    m = book["m"]

    spark = embeddings.sparkSession
    q_rows = (
        embeddings.where(F.col(id_col).isin(query_ids))
        .select(F.col(id_col).alias("query_id"), vec_col)
        .collect()
    )
    qdf = spark.createDataFrame(
        [(r["query_id"], _adc_tables(r[vec_col], book)) for r in q_rows],
        "query_id long, tables array<array<bigint>>",
    )
    scored = (
        F.broadcast(qdf)
        .crossJoin(codes.select(F.col(id_col).alias("neighbor_id"), "codes"))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.aggregate(
                F.zip_with(
                    "codes",
                    F.sequence(F.lit(1), F.lit(m)),
                    lambda c, j: F.element_at(
                        F.element_at(F.col("tables"), j), c + F.lit(1)
                    ),
                ),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ).alias("dot"),
        )
    )
    shortlist = k if rerank is None else max(k, rerank)
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot").desc(), F.col("neighbor_id")
    )
    top = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= shortlist)
    )
    if rerank is None:
        return top.select(
            "query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"),
            "dot",
        )
    # exact refinement of the shortlist: <= |Q| x R rows join back to the
    # full vectors (broadcast both tiny sides), rescore, re-rank
    qv = embeddings.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), quantized(F.col(vec_col)).alias("qv")
    )
    cv = embeddings.select(
        F.col(id_col).alias("neighbor_id"), quantized(F.col(vec_col)).alias("cv")
    )
    rescored = (
        F.broadcast(top.select("query_id", "neighbor_id"))
        .join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id", "neighbor_id",
            int_dot(F.col("qv"), F.col("cv")).alias("dot"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("dot").desc(), F.col("neighbor_id")
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"),
            "dot",
        )
    )


def pq_recall(
    embeddings: DataFrame, query_ids: list[int], k: int = 5, m: int = 8,
    n_codes: int = 16, seed: int = 42, rerank: int | None = None,
    id_col: str = "vec_id", vec_col: str = "embedding",
    fit_sample_fraction: float | None = None,
) -> DataFrame:
    """Recall@k of the PQ/ADC path vs the exact baseline — the recall dial
    next to lsh_recall (buckets); PQ's dial is bytes-per-vector (m,
    n_codes) and the rerank depth. Rows-only driver gate (k-means is not
    SQL-expressible); pytest pins the metric's invariants and the
    rerank==corpus-size exactness."""
    exact = dot_topk(embeddings, query_ids, k=k, id_col=id_col, vec_col=vec_col)
    approx = pq_topk(
        embeddings, query_ids, k=k, m=m, n_codes=n_codes, seed=seed,
        rerank=rerank, id_col=id_col, vec_col=vec_col,
        fit_sample_fraction=fit_sample_fraction,
    )
    return _recall_vs_exact(exact, approx)


# ---------------------------------------------------------------------------
# feature-hashed document embeddings (the hashing trick, Weinberger et al.
# 2009) — text -> vector without a vocabulary or a model
# ---------------------------------------------------------------------------


def hashed_features(
    corpus: DataFrame, d: int = 64, id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, dim, weight) — sparse signed-hash document features.

    Each token occurrence lands in dimension md5(token) % d with sign
    +-1 from the next md5 nibble; per-(doc, dim) weights are the signed
    occurrence sums (exact cancellation included, zero weights dropped —
    in BOTH engines, so the relation is oracle-comparable). This closes
    the text -> embedding gap with zero training state: no vocabulary
    shuffle, no model fit, deterministic across engines — the same
    reasons ``classify.train_quality_classifier`` uses HashingTF.

    Shape at 100 TB: one scan + ONE (doc, dim)-keyed shuffle with map-side
    combine (per-task state is the tiny live (doc, dim) histogram); d caps
    the per-doc output at d rows regardless of document length. Pure
    codegen — md5/conv/sum, no UDF."""
    tok = F.explode(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    ).alias("tok")
    h = F.md5(F.col("tok"))
    dim = (
        F.conv(F.substring(h, 1, 11), 16, 10).cast("bigint") % F.lit(d)
    ).cast("int")
    sign = F.when(
        F.conv(F.substring(h, 12, 1), 16, 10).cast("bigint") % 2 == 0,
        F.lit(1),
    ).otherwise(F.lit(-1))
    return (
        corpus.select(F.col(id_col), tok)
        .select(F.col(id_col), dim.alias("dim"), sign.alias("sign"))
        .groupBy(id_col, "dim")
        .agg(F.sum("sign").cast("bigint").alias("weight"))
        .where(F.col("weight") != 0)
    )
