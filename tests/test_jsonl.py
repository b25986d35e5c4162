"""JSONL front-door pins: conformance taxonomy, Jackson round-trip edge
cases (escapes, unicode, quoted numbers), file-based reads, and the
pure-codegen plan contract (no Python anywhere in the parse path)."""

import json

from pyspark.sql import functions as F

from kausaldb_spark.sources import jsonl as jl


def _parse(spark, lines):
    df = spark.createDataFrame(
        [(i, ln) for i, ln in enumerate(lines)], "line_no long, line string"
    )
    rows = jl.parse_jsonl(df, keep_cols=("line_no",)).collect()
    return {r["line_no"]: r.asDict() for r in rows}


def test_conformance_taxonomy(spark):
    got = _parse(spark, [
        '{"doc_id": 1, "text": "ok", "lang": "en", "source": "s", "n_chars": 2}',
        '{"doc_id": 2, "text": "tr',                       # malformed
        '{"text": "no id", "lang": "en"}',                 # missing-id
        '{"doc_id": 4, "lang": "en", "source": "s", "n_chars": 9}',  # no text
        '{"doc_id": 5, "text": "abc", "n_chars": "77"}',   # quoted number
        "",                                                # empty line
        "[1, 2, 3]",                                       # non-object JSON
    ])
    assert got[0]["err"] is None and got[0]["n_chars"] == 2
    assert got[1]["err"] == "malformed-json" and got[1]["doc_id"] is None
    assert got[2]["err"] == "missing-id" and got[2]["text"] == "no id"
    assert got[3]["err"] == "missing-text" and got[3]["n_chars"] == 9
    assert got[3]["doc_id"] == 4  # quarantine keeps what parsed
    # PERMISSIVE nulls the mistyped field; conformance repairs from text
    assert got[4]["err"] is None and got[4]["n_chars"] == 3
    assert got[5]["err"] == "malformed-json"
    assert got[6]["err"] == "malformed-json"


def test_escapes_unicode_and_unknown_fields(spark):
    text = 'quote " backslash \\ newline \n tab \t unicode é中'
    line = json.dumps({
        "extra": [1, {"deep": True}], "doc_id": 9, "text": text,
        "lang": "mixed", "source": "s", "n_chars": len(text),
    })
    got = _parse(spark, [line])
    assert got[0]["err"] is None
    assert got[0]["text"] == text  # byte-exact Jackson round-trip
    assert got[0]["n_chars"] == len(text)


def test_read_jsonl_documents_from_files(spark, tmp_path):
    d = tmp_path / "corpus"
    d.mkdir()
    (d / "a.jsonl").write_text(
        '{"doc_id": 1, "text": "alpha", "lang": "en", "source": "a", '
        '"n_chars": 5}\n{"doc_id": 2, "text": "tr'
    )
    (d / "b.jsonl").write_text(
        '{"doc_id": 3, "text": "beta", "lang": "de", "source": "b"}\n'
    )
    lines = spark.read.text(str(d)).select(F.col("value").alias("line"))
    rows = {r["doc_id"]: r.asDict() for r in jl.parse_jsonl(lines).collect()}
    assert rows[1]["err"] is None and rows[1]["text"] == "alpha"
    assert rows[3]["err"] is None and rows[3]["n_chars"] == 4  # repaired
    assert sum(1 for r in rows.values() if r["err"] == "malformed-json") == 1


def test_fixture_classes_against_model(spark):
    docs = spark.createDataFrame(
        [(i, f"text body {i} with \"quotes\" and \\ slashes", "en",
          f"src{i % 3}", len(f"text body {i} with \"quotes\" and \\ slashes"))
         for i in range(24)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    lines = jl.synthetic_jsonl_lines(docs)
    got = {r["line_no"]: r.asDict()
           for r in jl.parse_jsonl(lines, keep_cols=("line_no",)).collect()}
    for i in range(24):
        k = i % jl.N_JSONL_CLASSES
        r = got[i]
        if k == 3:
            assert r["err"] == "missing-text" and r["doc_id"] == i
        elif k == 4:
            assert r["err"] == "malformed-json" and r["doc_id"] is None
        else:
            assert r["err"] is None and r["doc_id"] == i, (i, r)
            assert r["text"].startswith(f"text body {i} ")
            assert r["n_chars"] == len(r["text"])


def test_parse_plan_is_pure_codegen(spark):
    """The whole JSONL path — synth AND parse — must contain no Python
    boundary at all: from_json/to_json are Catalyst expressions."""
    docs = spark.createDataFrame(
        [(1, "t", "en", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = jl.parse_jsonl(jl.synthetic_jsonl_lines(docs),
                         keep_cols=("line_no",))
    plan = out._jdf.queryExecution().executedPlan().toString()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan, marker
