"""Feature-hashing vectorization pins (similarity.hashed_features). The
sparse relation is oracle-gated corpus-wide (driver entry
`hashed_features`); these pin the signed occurrence weights and
determinism on hand-checkable docs."""

import pytest

from kausaldb_spark.functions import similarity as sm


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "alpha beta gamma alpha"),
        (2, "beta beta delta"),
        (3, "alpha beta gamma alpha"),  # duplicate of 1
        (4, ""),                        # empty text -> one '' token
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_weights_are_signed_occurrence_sums(spark, docs):
    # 'alpha' appears twice in doc 1: its dimension's |weight| contribution
    # is 2; with d large enough that test tokens don't collide, each
    # token's weight is exactly (sign * tf)
    d = 4096
    rows = sm.hashed_features(docs, d=d).where("doc_id = 1").collect()
    mags = sorted(abs(r["weight"]) for r in rows)
    assert mags == [1, 1, 2]  # beta, gamma, alpha(x2)


def test_determinism(spark, docs):
    a = sorted(map(tuple, sm.hashed_features(docs, d=16).collect()))
    b = sorted(map(tuple, sm.hashed_features(docs, d=16).collect()))
    assert a == b


