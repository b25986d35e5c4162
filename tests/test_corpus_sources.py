"""Multi-format corpus readers: every format conforms to the canonical
documents schema, round-trips content, and synthesizes stable ids."""

import os
import shutil
import tempfile

import pytest
from conftest import SF_DIR

from kausaldb_spark.sources import corpus


@pytest.fixture(scope="module")
def docs(spark):
    return corpus.read_documents(spark, f"{SF_DIR}/documents.parquet")


def test_parquet_reader_conforms(docs):
    assert [f.name for f in docs.schema.fields] == list(corpus.DOC_COLS)
    assert docs.schema["doc_id"].dataType.simpleString() == "bigint"
    assert docs.schema["n_chars"].dataType.simpleString() == "bigint"
    assert docs.count() == 500


def test_jsonl_roundtrip(spark, docs):
    d = tempfile.mkdtemp(prefix="kdb_jsonl_")
    try:
        docs.coalesce(2).write.mode("overwrite").json(d)
        files = [f for f in os.listdir(d) if f.endswith(".json")]
        assert 1 <= len(files) <= 2
        back = corpus.read_jsonl_documents(
            spark, d, schema="doc_id long, text string, lang string, source string"
        )
        a = docs.orderBy("doc_id").toPandas()
        b = back.orderBy("doc_id").toPandas()
        assert a.equals(b)
        # inference path (no schema) produces the same relation
        inferred = corpus.read_jsonl_documents(spark, d)
        assert inferred.orderBy("doc_id").toPandas().equals(a)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_csv_roundtrip_with_newlines(spark):
    rows = [
        (1, "line one\nline two", "en", "srcA"),
        (2, 'quoted "stuff", commas, and\nnewlines', "fr", "srcA"),
        (3, "plain", "und", "srcB"),
    ]
    src = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    d = tempfile.mkdtemp(prefix="kdb_csv_")
    try:
        (
            src.coalesce(1)
            .write.mode("overwrite")
            .option("header", True)
            .option("quoteAll", True)
            .option("escape", '"')
            .csv(d)
        )
        back = corpus.read_csv_documents(
            spark, d, schema="doc_id long, text string, lang string, source string"
        )
        got = {r["doc_id"]: r for r in back.collect()}
        for i, t, lang, s in rows:
            assert got[i]["text"] == t
            assert got[i]["lang"] == lang and got[i]["source"] == s
            assert got[i]["n_chars"] == len(t)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_text_dir_reader_one_doc_per_file(spark):
    d = tempfile.mkdtemp(prefix="kdb_txtdir_")
    try:
        contents = {"a.txt": "alpha doc\nwith lines", "b.txt": "beta", "c.txt": "gamma doc"}
        for name, text in contents.items():
            with open(os.path.join(d, name), "w") as fh:
                fh.write(text)
        out = corpus.read_text_dir_documents(spark, d, default_source="dump")
        rows = out.collect()
        assert len(rows) == 3
        by_src = {r["source"]: r for r in rows}
        assert set(by_src) == {"dump/a.txt", "dump/b.txt", "dump/c.txt"}
        assert by_src["dump/a.txt"]["text"] == contents["a.txt"]
        # synthesized ids: stable across reads, distinct per doc
        ids1 = sorted(r["doc_id"] for r in rows)
        ids2 = sorted(r["doc_id"] for r in corpus.read_text_dir_documents(
            spark, d, default_source="dump").collect())
        assert ids1 == ids2 and len(set(ids1)) == 3
        assert all(0 < i < 2**56 for i in ids1)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_dispatch_and_missing_columns(spark):
    # format inference by suffix
    assert corpus.read_documents(spark, f"{SF_DIR}/documents.parquet").count() == 500
    with pytest.raises(ValueError, match="unknown corpus format"):
        corpus.read_documents(spark, "/x/y", fmt="avro")
    # a bare (text,) relation conforms with synthesized id/lang/source
    bare = spark.createDataFrame([("hello world",), ("zweite",)], "text string")
    out = corpus.conform(bare, id_col=None)
    rows = out.collect()
    assert {r["lang"] for r in rows} == {"und"}
    assert {r["source"] for r in rows} == {"unknown"}
    assert len({r["doc_id"] for r in rows}) == 2


def test_conformed_output_feeds_pipeline_ops(spark, docs):
    """The adapter output plugs straight into the curation ops (the whole
    point of the canonical schema)."""
    from pyspark.sql import functions as F

    from kausaldb_spark.functions import text as tx

    out = docs.select(
        "doc_id",
        tx.normalize_text(F.col("text")).alias("text"),
        "source",
    )
    solved = tx.mixture_solve(out, {"src0": 1.0}, budget_tokens=1000)
    assert solved.where(F.col("source") == "src0").count() == 1


def test_conform_rejects_non_numeric_ids(spark):
    """A string id column ("doc-123") must fail LOUDLY at the load site —
    a silent cast-to-null would pass the type guard and then every
    downstream join on doc_id would match nothing."""
    import pytest
    from pyspark.sql import functions as F  # noqa: F401

    bad = spark.createDataFrame(
        [("doc-1", "hello world"), ("doc-2", "more text")], "doc_id string, text string"
    )
    with pytest.raises(Exception, match="non-numeric"):
        corpus.conform(bad).collect()
    # numeric strings still cast fine
    ok = spark.createDataFrame(
        [("41", "hello"), ("42", "world")], "doc_id string, text string"
    )
    got = {r["doc_id"] for r in corpus.conform(ok).select("doc_id").collect()}
    assert got == {41, 42}
    # and dropping the id column falls back to synthesized content ids
    synth = corpus.conform(bad.drop("doc_id"))
    assert synth.where(synth.doc_id.isNull()).count() == 0


def test_diff_documents_statuses(spark):
    from kausaldb_spark.sources import corpus as cp

    old = spark.createDataFrame(
        [(1, "same"), (2, "before"), (3, "gone")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "same"), (2, "after"), (4, "fresh")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["status"] for r in cp.diff_documents(old, new).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_diff_documents_join_carries_hashes_not_text(spark):
    from kausaldb_spark.sources import corpus as cp

    old = spark.createDataFrame([(1, "aaa")], "doc_id long, text string")
    new = spark.createDataFrame([(1, "aaa")], "doc_id long, text string")
    df = cp.diff_documents(old, new)
    # the join's OUTPUT schema carries only id + the two md5 columns — the
    # raw text reduces to a hash before the join (the 100 TB contract in
    # the docstring); output columns are the public shape
    assert df.columns == ["doc_id", "status"]
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "md5(" in plan and "FullOuter" in plan
