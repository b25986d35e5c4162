"""CSV front-door pins: conformance taxonomy (incl. the CSV-specific
header-row and short-row classes), RFC 4180 quoting through Univocity,
file-based reads with shard-concatenation headers, and the pure-codegen
plan contract."""

from pyspark.sql import functions as F

from kausaldb_spark.sources import csvl as cv


def _parse(spark, lines):
    df = spark.createDataFrame(
        [(i, ln) for i, ln in enumerate(lines)], "line_no long, line string"
    )
    rows = cv.parse_csv_lines(df, keep_cols=("line_no",)).collect()
    return {r["line_no"]: r.asDict() for r in rows}


def test_conformance_taxonomy(spark):
    got = _parse(spark, [
        "1,ok text,en,s,7",                       # conformant
        "doc_id,text,lang,source,n_chars",        # stray header
        "",                                       # empty -> malformed
        ",,,,",                                   # all empty -> malformed
        "notanum,hello,en,s,5",                   # id unparseable
        "4,,en,s,9",                              # empty text field
        "5,hello,en",                             # under-run
        "6,hello,en,s,NaNish",                    # bad n_chars -> repaired
        "7,hello,en,s,5,EXTRA,EXTRA2",            # over-run tolerated
    ])
    assert got[0]["err"] is None and got[0]["n_chars"] == 7
    assert got[1]["err"] == "header-row" and got[1]["doc_id"] is None
    assert got[1]["text"] is None  # dead row: nothing leaks through
    assert got[2]["err"] == "malformed-csv"
    assert got[3]["err"] == "malformed-csv"
    assert got[4]["err"] == "missing-id" and got[4]["text"] == "hello"
    assert got[5]["err"] == "missing-text" and got[5]["n_chars"] == 9
    assert got[5]["doc_id"] == 4  # quarantine keeps what parsed
    assert got[6]["err"] == "short-row"
    assert got[6]["doc_id"] == 5 and got[6]["text"] == "hello"
    assert got[6]["source"] is None and got[6]["n_chars"] is None
    assert got[7]["err"] is None and got[7]["n_chars"] == 5  # repaired
    assert got[8]["err"] is None and got[8]["n_chars"] == 5


def test_rfc4180_quoting(spark):
    got = _parse(spark, [
        '8,"a,b ""q"" hello",en,s,13',            # embedded comma + quotes
        '9,"multi  spaced   words",en,s,19',
    ])
    assert got[0]["err"] is None
    assert got[0]["text"] == 'a,b "q" hello'
    assert got[1]["text"] == "multi  spaced   words"


def test_read_csv_documents_from_files(spark, tmp_path):
    # the classic shard-concat artifact: every shard's header in the body
    d = tmp_path / "corpus"
    d.mkdir()
    (d / "a.csv").write_text(
        "doc_id,text,lang,source,n_chars\n1,alpha,en,a,5\n2,beta,de,a,4\n"
    )
    (d / "b.csv").write_text(
        "doc_id,text,lang,source,n_chars\n3,gamma,fr,b,5\n"
    )
    lines = spark.read.text(str(d)).select(F.col("value").alias("line"))
    rows = cv.parse_csv_lines(lines).collect()
    by_id = {r["doc_id"]: r.asDict() for r in rows if r["doc_id"] is not None}
    assert by_id[1]["text"] == "alpha" and by_id[3]["lang"] == "fr"
    assert sum(1 for r in rows if r["err"] == "header-row") == 2


def test_fixture_classes_against_model(spark):
    docs = spark.createDataFrame(
        [(i, f"text body {i} plain words", "en", f"src{i % 3}",
          len(f"text body {i} plain words")) for i in range(24)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    lines = cv.synthetic_csv_lines(docs)
    got = {r["line_no"]: r.asDict()
           for r in cv.parse_csv_lines(lines, keep_cols=("line_no",)).collect()}
    for i in range(24):
        k = i % cv.N_CSV_CLASSES
        r = got[i]
        if k == 2:
            assert r["err"] == "header-row" and r["doc_id"] is None
        elif k == 3:
            assert r["err"] == "missing-text" and r["doc_id"] == i
        elif k == 4:
            assert r["err"] == "short-row" and r["text"].startswith("text body")
            assert r["source"] is None and r["n_chars"] is None
        else:
            assert r["err"] is None and r["doc_id"] == i, (i, r)
            if k == 1:
                assert r["text"] == f'a,b "q" text body {i} plain words'
            else:
                assert r["text"] == f"text body {i} plain words"
            assert r["n_chars"] == len(f"text body {i} plain words")


def test_parse_plan_is_pure_codegen(spark):
    """The whole CSV path — synth AND parse — must contain no Python
    boundary at all: from_csv/concat_ws are Catalyst expressions."""
    docs = spark.createDataFrame(
        [(1, "t", "en", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = cv.parse_csv_lines(cv.synthetic_csv_lines(docs),
                             keep_cols=("line_no",))
    plan = out._jdf.queryExecution().executedPlan().toString()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan, marker
