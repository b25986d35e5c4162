"""JSONL corpus front door: schema-conformant document ingestion from
newline-delimited JSON with per-line error isolation — the single most
common interchange format for LLM training corpora.

Spark-first by construction: the parse is ONE `from_json` Catalyst
expression (JVM Jackson, whole-stage codegen — no Python anywhere in the
path), so it runs at scan throughput and composes with any line source
(`spark.read.text`, a WARC body split, a decompressed archive member).
Error isolation is the PERMISSIVE corrupt-record column: a malformed line
becomes one quarantined row carrying its provenance, never a failed task
— the non-negotiable contract for a 100 TB heap of crawled JSONL where
some shard always has a half-written last line.

Conformance taxonomy (the `err` column):
  malformed-json   the line failed to parse at all (corrupt record set)
  missing-id       parsed, but the required id field is null/absent
  missing-text     parsed, but the required text field is null/absent
  NULL             conformant; `n_chars` is recomputed as
                   coalesce(json n_chars, length(text)) — a type-mismatched
                   n_chars (e.g. quoted number) nulls in PERMISSIVE mode
                   and is repaired from the text

Quarantined rows keep whatever fields DID parse (doc_id, lang, source,
n_chars) so a downstream triage query can attribute damage by source —
"drop silently" is how corpora rot.

Scale: map-only, no shuffle; predicate pushdown and column pruning pass
through (`from_json` prunes unreferenced struct fields since Spark 3.x).

Reference parity note: the reference engine ingests files/directories
(src/ingestion); JSONL is the pipeline-side interchange format the prompt's
training-data surface needs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# document-interchange schema; `_corrupt` is the PERMISSIVE quarantine
# column (columnNameOfCorruptRecord)
DOC_JSON_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, "
    "n_chars bigint, _corrupt string"
)


def parse_jsonl(lines: DataFrame, line_col: str = "line",
                keep_cols: tuple = ()) -> DataFrame:
    """(keep_cols..., doc_id, text, lang, source, n_chars, err) from a
    relation of raw JSONL lines. Pure codegen — one from_json expression
    plus null-pattern conformance; see the module header for the err
    taxonomy."""
    p = F.from_json(
        F.col(line_col), DOC_JSON_SCHEMA,
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
    )
    parsed = lines.select(*keep_cols, p.alias("_p"))
    # PERMISSIVE sets _corrupt for FIELD-level type mismatches too (and
    # keeps the salvageable fields as partial results) — malformed means
    # corrupt AND nothing salvaged; a type-mismatched field alone is
    # repairable, not a dead line
    all_null = (
        F.col("_p.doc_id").isNull() & F.col("_p.text").isNull()
        & F.col("_p.lang").isNull() & F.col("_p.source").isNull()
        & F.col("_p.n_chars").isNull()
    )
    err = (
        F.when(F.col("_p").isNull()
               | (F.col("_p._corrupt").isNotNull() & all_null),
               F.lit("malformed-json"))
        .when(F.col("_p.doc_id").isNull(), F.lit("missing-id"))
        .when(F.col("_p.text").isNull(), F.lit("missing-text"))
    )
    return parsed.select(
        *keep_cols,
        F.when(err.isNull() | (err != "malformed-json"),
               F.col("_p.doc_id")).alias("doc_id"),
        F.when(err.isNull() | (err != "malformed-json"),
               F.col("_p.text")).alias("text"),
        F.when(err.isNull() | (err != "malformed-json"),
               F.col("_p.lang")).alias("lang"),
        F.when(err.isNull() | (err != "malformed-json"),
               F.col("_p.source")).alias("source"),
        F.when(err.isNull(),
               F.coalesce(F.col("_p.n_chars"), F.length("_p.text")))
        .otherwise(
            F.when(err != "malformed-json", F.col("_p.n_chars"))
        ).alias("n_chars"),
        err.alias("err"),
    )


# --- deterministic fixture (the jsonl_ingest oracle) -------------------------
# Six line classes built in PURE CODEGEN off the documents table; the
# DuckDB twin predicts every output row from (doc_id, text, lang, source,
# n_chars) alone, while the Spark side must round-trip real JSON bytes
# through Jackson — escaping, field order, unknown fields, type coercion
# and truncation all ride the same from_json path production data would.

N_JSONL_CLASSES = 6


def synthetic_jsonl_lines(docs: DataFrame) -> DataFrame:
    """(line_no, line) with line class = doc_id % 6:
    0 compact to_json | 1 reordered fields + unknown extra | 2 padded
    whitespace | 3 text field absent | 4 truncated mid-string |
    5 n_chars as a QUOTED (and wrong) number — PERMISSIVE nulls the field
    and conformance repairs it from length(text)."""
    full = F.to_json(F.struct("doc_id", "text", "lang", "source", "n_chars"))
    reordered = F.to_json(F.struct(
        "source", "n_chars", F.lit("unknown").alias("extra_field"),
        "doc_id", "lang", "text",
    ))
    no_text = F.to_json(F.struct("doc_id", "lang", "source", "n_chars"))
    quoted_n = F.to_json(F.struct(
        "doc_id", "text", "lang", "source",
        (F.col("n_chars") + 7).cast("string").alias("n_chars"),
    ))
    k = F.col("doc_id") % N_JSONL_CLASSES
    line = (
        F.when(k == 0, full)
        .when(k == 1, reordered)
        .when(k == 2, F.concat(F.lit("   "), full, F.lit("  ")))
        .when(k == 3, no_text)
        .when(k == 4, full.substr(F.lit(1), F.length(full) - 3))
        .otherwise(quoted_n)
    )
    return docs.select(F.col("doc_id").alias("line_no"), line.alias("line"))
