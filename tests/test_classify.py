"""Trained quality classifier: separates planted good/bad corpora and
ranks held-out docs correctly."""

import random

from kausaldb_spark.functions import classify as cls


def _corpus(rng, n, good):
    rows = []
    for i in range(n):
        if good:
            words = rng.choices(
                ["the", "cat", "sat", "on", "mat", "and", "dog", "ran",
                 "to", "house", "in", "garden", "of", "quiet", "town"],
                k=rng.randint(20, 40),
            )
        else:
            words = rng.choices(
                ["xqz", "zzz", "@@@@", "####", "aaaaaaaa", "!!!!", "qqq"],
                k=rng.randint(3, 8),
            )
        rows.append(" ".join(words))
    return rows


def test_classifier_separates_planted_quality(spark):
    rng = random.Random(3)
    good = _corpus(rng, 40, True)
    bad = _corpus(rng, 40, False)
    train = spark.createDataFrame(
        [(i, t, 1) for i, t in enumerate(good[:30])]
        + [(100 + i, t, 0) for i, t in enumerate(bad[:30])],
        "doc_id int, text string, label int",
    )
    model = cls.train_quality_classifier(train, label_col="label")
    held = spark.createDataFrame(
        [(i, t) for i, t in enumerate(good[30:])]
        + [(100 + i, t) for i, t in enumerate(bad[30:])],
        "doc_id int, text string",
    )
    scores = {r["doc_id"]: r["p_good"] for r in
              cls.score_quality(model, held).collect()}
    g = [scores[i] for i in range(10)]
    b = [scores[100 + i] for i in range(10)]
    assert min(g) > max(b), f"overlap: good={g} bad={b}"


def test_classifier_weak_label_bootstrap(spark):
    """With no labels the heuristic quality_flag supervises; the trained
    model must agree with the heuristic on clearly-good/clearly-bad docs."""
    rng = random.Random(5)
    texts = _corpus(rng, 30, True) + _corpus(rng, 30, False)
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    model = cls.train_quality_classifier(docs)
    scored = {r["doc_id"]: r["p_good"] for r in
              cls.score_quality(model, docs).collect()}
    good_mean = sum(scored[i] for i in range(30)) / 30
    bad_mean = sum(scored[30 + i] for i in range(30)) / 30
    assert good_mean > bad_mean + 0.2


# ---------------------------------------------------------------------------
# Integer Naive Bayes (exact arithmetic, oracle-gated driver entry)
# ---------------------------------------------------------------------------

import hashlib


def _bucket(tok, B=4096):
    return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % B


def _fl2(x):
    return x.bit_length() - 1


def _nb_brute(train_rows, score_rows, B=4096):
    """Dict-model twin of nb_train + nb_score: (id, text, label) train
    rows, (id, text) score rows -> {id: (n_tokens, margin_bits, pred)}."""
    cg, cb = {}, {}
    n_good = n_bad = t_good = t_bad = 0
    for _id, text, y in train_rows:
        toks = [t for t in text.strip().lower().split() if t]
        if y == 1:
            n_good += 1
        else:
            n_bad += 1
        for t in toks:
            b = _bucket(t, B)
            if y == 1:
                cg[b] = cg.get(b, 0) + 1
                t_good += 1
            else:
                cb[b] = cb.get(b, 0) + 1
                t_bad += 1
    p_margin = (
        (_fl2(n_good + n_bad + 2) - _fl2(n_bad + 1))
        - (_fl2(n_good + n_bad + 2) - _fl2(n_good + 1))
    )
    out = {}
    for _id, text in score_rows:
        toks = [t for t in text.strip().lower().split() if t]
        m = 0
        for t in toks:
            b = _bucket(t, B)
            m += (_fl2(t_bad + B) - _fl2(cb.get(b, 0) + 1)) - (
                _fl2(t_good + B) - _fl2(cg.get(b, 0) + 1)
            )
        margin = m + p_margin
        out[_id] = (len(toks), margin, int(margin > 0))
    return out


def test_nb_matches_brute_force_model(spark):
    rng = random.Random(7)
    good = _corpus(rng, 24, True)
    bad = _corpus(rng, 24, False)
    train_rows = [(i, t, 1) for i, t in enumerate(good[:16])] + [
        (100 + i, t, 0) for i, t in enumerate(bad[:16])
    ]
    score_rows = (
        [(r[0], r[1]) for r in train_rows]
        + [(200 + i, t) for i, t in enumerate(good[16:])]
        + [(300 + i, t) for i, t in enumerate(bad[16:])]
    )
    train = spark.createDataFrame(train_rows, "doc_id long, text string, label int")
    score = spark.createDataFrame(score_rows, "doc_id long, text string")
    counts, priors = cls.nb_train(train, "label")
    got = {
        r["doc_id"]: (r["n_tokens"], r["margin_bits"], r["pred_good"])
        for r in cls.nb_score(counts, priors, score).collect()
    }
    want = _nb_brute(train_rows, score_rows)
    assert got == want
    # and the planted dialects actually separate on the held-out halves
    for i in range(len(good) - 16):
        assert got[200 + i][2] == 1
    for i in range(len(bad) - 16):
        assert got[300 + i][2] == 0


def test_nb_zero_token_doc_scores_prior_only(spark):
    train = spark.createDataFrame(
        [(1, "alpha beta alpha", 1), (2, "gamma delta", 0), (3, "beta", 1)],
        "doc_id long, text string, label int",
    )
    score = spark.createDataFrame(
        [(10, ""), (11, "   "), (12, None)], "doc_id long, text string"
    )
    counts, priors = cls.nb_train(train, "label")
    rows = {r["doc_id"]: r for r in cls.nb_score(counts, priors, score).collect()}
    want = _nb_brute(
        [(1, "alpha beta alpha", 1), (2, "gamma delta", 0), (3, "beta", 1)],
        [(10, "")],
    )[10]
    assert len(rows) == 3
    for _id in (10, 11, 12):
        assert rows[_id]["n_tokens"] == 0
        assert rows[_id]["margin_bits"] == want[1]
        assert rows[_id]["pred_good"] == want[2]


def test_nb_quality_source_bootstrap(spark):
    # weak source labels: train on membership in the good sources, score
    # the whole corpus; one row per input id
    rows = [
        (i, "fluent prose reference " * 3, "wiki") for i in range(8)
    ] + [(100 + i, "click casino free " * 3, "crawl") for i in range(8)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    labeled = docs.withColumn("good", (docs.source == "wiki").cast("int"))
    counts, priors = cls.nb_train(labeled, "good")
    out = {r["doc_id"]: r for r in cls.nb_score(counts, priors, docs).collect()}
    assert len(out) == 16
    assert all(out[i]["pred_good"] == 1 for i in range(8))
    assert all(out[100 + i]["pred_good"] == 0 for i in range(8))
