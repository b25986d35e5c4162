"""Trained quality classification — the learned counterpart of
``text.quality_columns``'s heuristics. Modern curation pipelines pair rule
filters with a lightweight linear classifier over hashed token features
(the fasttext-style "looks like reference text" model used to select
pretraining data); this is that component on Spark MLlib.

Scale shape: featurization is HashingTF over the token array (fixed-width
sparse vectors, no vocabulary shuffle — the same hashed-feature trick DSIR
uses), LBFGS logistic regression trains in a handful of distributed passes,
and scoring is a single model.transform projection. Training labels come
from whatever weak supervision is available — by default the repo's own
heuristic ``quality_flag`` (bootstrap), or a caller-provided labeled frame
(e.g. "wikipedia vs crawl" source labels, the common practice).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kausaldb_spark.functions import text as tx

N_FEATURES = 16_384


def _featurize(docs: DataFrame, text_col: str):
    from pyspark.ml.feature import HashingTF

    toks = docs.withColumn("_toks", tx.tokens(F.col(text_col)))
    tf = HashingTF(
        inputCol="_toks", outputCol="_features", numFeatures=N_FEATURES
    )
    return tf.transform(toks)


def train_quality_classifier(
    docs: DataFrame, label_col: str | None = None,
    text_col: str = "text", max_iter: int = 20, reg_param: float = 1e-3,
):
    """Fit the linear quality model. ``label_col`` names a 0/1 column on
    ``docs``; when None, the heuristic ``text.quality_flag`` provides weak
    labels (self-training bootstrap). Returns the fitted MLlib model."""
    from pyspark.ml.classification import LogisticRegression

    if label_col is None:
        qc = tx.quality_columns(F.col(text_col))
        docs = docs.withColumn("_label", tx.quality_flag(qc).cast("double"))
        label_col = "_label"
    else:
        docs = docs.withColumn("_label", F.col(label_col).cast("double"))
        label_col = "_label"
    feats = _featurize(docs, text_col)
    lr = LogisticRegression(
        featuresCol="_features", labelCol=label_col,
        maxIter=max_iter, regParam=reg_param, standardization=False,
    )
    model = lr.fit(feats)
    # A freshly-fit model carries a training summary that references the
    # SparkSession; if that object reaches a scoring task closure, the job
    # dies with "Task not serializable: ObservationManager" (observed
    # intermittently under full-suite load). Persist+reload strips the
    # summary — and matches reality: at scale the classifier is always a
    # saved artifact, not an in-memory fit.
    import shutil
    import tempfile

    from pyspark.ml.classification import LogisticRegressionModel

    path = tempfile.mkdtemp(prefix="kdb_quality_lr_")
    try:
        model.write().overwrite().save(path)
        return LogisticRegressionModel.load(path)
    finally:
        shutil.rmtree(path, ignore_errors=True)


def score_quality(
    model, docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Score docs with a fitted model: (id, p_good double, pred int).
    One projection — vectorized JVM-side, no Python boundary."""
    from pyspark.ml.functions import vector_to_array

    feats = _featurize(docs, text_col)
    out = model.transform(feats)
    return out.select(
        F.col(id_col),
        vector_to_array(F.col("probability")).getItem(1).alias("p_good"),
        F.col("prediction").cast("int").alias("pred"),
    )


# ---------------------------------------------------------------------------
# Integer Naive Bayes (engine-portable exact arithmetic)
# ---------------------------------------------------------------------------
#
# The MLlib logistic model above is the float path (LBFGS is iterative and
# not SQL-expressible, so its gated entry is rows-only). This is the exact
# counterpart: a multinomial Naive Bayes quality classifier in PURE INTEGER
# arithmetic, the same minimum-description-length quantization
# lm_bits_per_token uses — every -log2 p becomes an exact integer Shannon
# code length via fl2(x) = floor(log2 x) = length(bin(x)) - 1, so training
# AND scoring are bit-exact across engines and the whole op is DuckDB-
# oracle-gated. NB trained on weak source labels is the classic bootstrap
# for "looks like reference text" selection (the same role fasttext plays
# in CCNet-style pipelines), and at 100 TB its shape is ideal: the model is
# ONE bounded relation (<= n_buckets rows) + a 1-row prior, so training is
# a single keyed groupBy of the labeled corpus and scoring is a broadcast
# join riding the scan.

NB_BUCKETS = 4096


def _fl2(c):
    """floor(log2 c) for positive integer columns — exact in both engines
    (DuckDB: length(bin(x)) - 1)."""
    return F.length(F.bin(c)) - 1


def _doc_token_buckets(docs, n_buckets: int, text_col: str, id_col: str):
    """(id, b, cnt): token-occurrence counts per (doc, hash bucket) —
    the explode is the only row amplification; the (id, b) groupBy gives
    map-side combine, so the scoring join sees at most n_buckets rows per
    doc regardless of document length."""
    toks = F.filter(tx.tokens(F.col(text_col)), lambda x: x != "")
    bk = F.transform(toks, lambda x: tx._hash_bucket(x, n_buckets))
    return (
        docs.select(F.col(id_col), F.explode(bk).alias("b"))
        .groupBy(id_col, "b")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )


def nb_train(labeled, label_col: str = "label", n_buckets: int = NB_BUCKETS,
             text_col: str = "text", id_col: str = "doc_id"):
    """Train the integer NB model from a 0/1-labeled corpus. Returns
    (counts, priors):

    - ``counts``  — (b, c_good, c_bad) token-occurrence counts per hash
      bucket, <= ``n_buckets`` rows REGARDLESS of corpus size (one keyed
      groupBy with map-side combine — the only pass over the text).
    - ``priors``  — one row (n_good, n_bad, t_good, t_bad): document
      priors and class token totals (derived from ``counts`` + a doc-count
      agg, both tiny).
    """
    lab = labeled.select(
        F.col(id_col), F.col(text_col),
        (F.col(label_col).cast("int") == 1).cast("bigint").alias("_y"),
    )
    per_bucket = (
        lab.select(
            "_y",
            F.explode(
                F.filter(tx.tokens(F.col(text_col)), lambda x: x != "")
            ).alias("tok"),
        )
        .select("_y", tx._hash_bucket(F.col("tok"), n_buckets).alias("b"))
        .groupBy("b")
        .agg(
            F.sum("_y").cast("bigint").alias("c_good"),
            F.sum(1 - F.col("_y")).cast("bigint").alias("c_bad"),
        )
    )
    totals = per_bucket.agg(
        F.coalesce(F.sum("c_good"), F.lit(0)).cast("bigint").alias("t_good"),
        F.coalesce(F.sum("c_bad"), F.lit(0)).cast("bigint").alias("t_bad"),
    )
    ndocs = lab.agg(
        F.coalesce(F.sum("_y"), F.lit(0)).cast("bigint").alias("n_good"),
        F.coalesce(F.sum(1 - F.col("_y")), F.lit(0)).cast("bigint")
        .alias("n_bad"),
    )
    return per_bucket, ndocs.crossJoin(totals)


def nb_score(counts, priors, docs, n_buckets: int = NB_BUCKETS,
             text_col: str = "text", id_col: str = "doc_id"):
    """Score every doc with the integer NB model: per token occurrence the
    class code lengths are

        bits_c = fl2(T_c + B) - fl2(count_c(b) + 1)        (add-one)

    and the document's margin is the total BAD-code minus GOOD-code length
    plus the document-prior term — positive margin means the good-class
    code is shorter, i.e. predict good. Output: (id, n_tokens int,
    margin_bits bigint, pred_good int) for EVERY input id (0-token docs
    carry the prior-only margin).

    Plan shape: counts (<= B rows) and priors (1 row) broadcast; the only
    shuffles are the two keyed doc-id aggs."""
    tokc = _doc_token_buckets(docs, n_buckets, text_col, id_col)
    B = F.lit(n_buckets).cast("bigint")
    scored = (
        tokc.join(F.broadcast(counts), ["b"], "left")
        .join(F.broadcast(priors.select("t_good", "t_bad")), how="cross")
        .select(
            F.col(id_col),
            F.col("cnt"),
            (
                # bits_bad - bits_good per occurrence, times multiplicity
                F.col("cnt")
                * (
                    (_fl2(F.col("t_bad") + B)
                     - _fl2(F.coalesce("c_bad", F.lit(0)) + F.lit(1)))
                    - (_fl2(F.col("t_good") + B)
                       - _fl2(F.coalesce("c_good", F.lit(0)) + F.lit(1)))
                ).cast("bigint")
            ).alias("dbits"),
        )
        .groupBy(id_col)
        .agg(
            F.sum("cnt").cast("int").alias("n_tokens"),
            F.sum("dbits").cast("bigint").alias("tok_margin"),
        )
    )
    prior_margin = (
        (_fl2(F.col("n_good") + F.col("n_bad") + F.lit(2))
         - _fl2(F.col("n_bad") + F.lit(1)))
        - (_fl2(F.col("n_good") + F.col("n_bad") + F.lit(2))
           - _fl2(F.col("n_good") + F.lit(1)))
    ).cast("bigint").alias("p_margin")
    out = (
        docs.select(id_col)
        .join(scored, [id_col], "left")
        .join(F.broadcast(priors.select(prior_margin)), how="cross")
        .select(
            F.col(id_col),
            F.coalesce("n_tokens", F.lit(0)).cast("int").alias("n_tokens"),
            (F.coalesce("tok_margin", F.lit(0)) + F.col("p_margin"))
            .cast("bigint").alias("margin_bits"),
        )
    )
    return out.withColumn(
        "pred_good", (F.col("margin_bits") > 0).cast("int")
    )
