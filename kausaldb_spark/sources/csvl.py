"""CSV corpus front door: schema-conformant document ingestion from
comma-separated lines with per-line error isolation — the other ubiquitous
interchange format (metadata sidecars, label tables, exported corpora).

Spark-first by construction, the same contract as ``sources/jsonl``: the
parse is ONE `from_csv` Catalyst expression (JVM Univocity, whole-stage
codegen — no Python anywhere in the path), so it runs at scan throughput
over any line relation. Error isolation is the PERMISSIVE corrupt-record
column: a damaged line becomes one quarantined row carrying its
provenance, never a failed task.

CSV-specific hazards this front door must absorb (each a fixture class):
RFC 4180 quoting (embedded delimiters, doubled quotes), stray header rows
mid-stream (the classic shard-concatenation artifact — cat-ing per-shard
CSVs leaves every shard's header in the body), truncated lines, and
type-mismatched numeric fields.

Conformance taxonomy (the `err` column):
  header-row       the line is a repeated header (doc_id column holds the
                   literal column name) — quarantined, not silently eaten,
                   so shard-concatenation damage stays countable
  malformed-csv    the parse salvaged nothing (all fields null — note an
                   EMPTY line parses to all-null with the corrupt column
                   UNSET, so this keys on the null pattern, not _corrupt)
  missing-id       parsed, but doc_id is null/absent/unparseable
  missing-text     parsed, but the text field is null/absent
  short-row        under-run line (corrupt set, both trailing fields
                   absent): id+text salvaged, but the truncation stays
                   attributable — CSV's silent-truncation hazard made loud
  NULL             conformant; `n_chars` repaired as
                   coalesce(csv n_chars, length(text)) — a type-mismatched
                   n_chars nulls in PERMISSIVE mode and is recomputed
                   (extra trailing tokens also set _corrupt but salvage
                   every schema field — tolerated like jsonl's unknown
                   fields)

Scale: map-only, no shuffle, column pruning passes through.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# document-interchange schema; `_corrupt` is the PERMISSIVE quarantine
# column (columnNameOfCorruptRecord)
DOC_CSV_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, "
    "n_chars bigint, _corrupt string"
)
_CSV_OPTS = {
    "mode": "PERMISSIVE",
    "columnNameOfCorruptRecord": "_corrupt",
    # RFC 4180: quotes escape by doubling — set escape = quote so
    # Univocity reads "" inside a quoted field as a literal quote
    "quote": '"',
    "escape": '"',
}


def parse_csv_lines(lines: DataFrame, line_col: str = "line",
                    keep_cols: tuple = ()) -> DataFrame:
    """(keep_cols..., doc_id, text, lang, source, n_chars, err) from a
    relation of raw CSV lines (no header). Pure codegen — one from_csv
    expression plus conformance; see the module header for the err
    taxonomy."""
    p = F.from_csv(F.col(line_col), DOC_CSV_SCHEMA, _CSV_OPTS)
    # header detection happens on the RAW line (the parsed doc_id of a
    # header row is null — indistinguishable from missing-id without it)
    is_header = F.col(line_col).startswith("doc_id,")
    parsed = lines.select(
        *keep_cols, is_header.alias("_hdr"), p.alias("_p")
    )
    all_null = (
        F.col("_p.doc_id").isNull() & F.col("_p.text").isNull()
        & F.col("_p.lang").isNull() & F.col("_p.source").isNull()
        & F.col("_p.n_chars").isNull()
    )
    err = (
        F.when(F.col("_hdr"), F.lit("header-row"))
        .when(F.col("_p").isNull() | all_null, F.lit("malformed-csv"))
        .when(F.col("_p.doc_id").isNull(), F.lit("missing-id"))
        .when(F.col("_p.text").isNull(), F.lit("missing-text"))
        .when(
            F.col("_p._corrupt").isNotNull()
            & F.col("_p.source").isNull() & F.col("_p.n_chars").isNull(),
            F.lit("short-row"),
        )
    )
    dead = err.isin("header-row", "malformed-csv")
    return parsed.select(
        *keep_cols,
        F.when(err.isNull() | ~dead, F.col("_p.doc_id")).alias("doc_id"),
        F.when(err.isNull() | ~dead, F.col("_p.text")).alias("text"),
        F.when(err.isNull() | ~dead, F.col("_p.lang")).alias("lang"),
        F.when(err.isNull() | ~dead, F.col("_p.source")).alias("source"),
        F.when(err.isNull(),
               F.coalesce(F.col("_p.n_chars"), F.length("_p.text")))
        .otherwise(F.when(~dead, F.col("_p.n_chars")))
        .alias("n_chars"),
        err.alias("err"),
    )


# --- deterministic fixture (the csv_ingest oracle) ---------------------------
# Six line classes built in PURE CODEGEN off the documents table; the
# DuckDB twin predicts every output row from (doc_id, text, lang, source,
# n_chars) alone, while the Spark side must round-trip real CSV bytes
# through Univocity — quoting, doubled quotes, header rows, truncation and
# type coercion all ride the same from_csv path production data would.

N_CSV_CLASSES = 6


def synthetic_csv_lines(docs: DataFrame) -> DataFrame:
    """(line_no, line) with line class = doc_id % 6:
    0 plain row | 1 RFC 4180 quoted text with embedded comma + doubled
    quote | 2 stray header row (shard-concat artifact) | 3 empty text
    field | 4 truncated after lang | 5 n_chars unparseable — PERMISSIVE
    nulls the field and conformance repairs it from length(text)."""
    plain_text = F.col("text")
    # class 1: the PARSED text is 'a,b "q" ' || text; on the wire the
    # field is quoted and the inner quotes doubled
    q_text_wire = F.concat(
        F.lit('"a,b ""q"" '), F.col("text"), F.lit('"')
    )
    full = F.concat_ws(
        ",", F.col("doc_id"), plain_text, F.col("lang"),
        F.col("source"), F.col("n_chars"),
    )
    quoted = F.concat_ws(
        ",", F.col("doc_id"), q_text_wire, F.col("lang"),
        F.col("source"), F.col("n_chars"),
    )
    empty_text = F.concat_ws(
        ",", F.col("doc_id"), F.lit(""), F.col("lang"),
        F.col("source"), F.col("n_chars"),
    )
    truncated = F.concat_ws(
        ",", F.col("doc_id"), plain_text, F.col("lang")
    )
    bad_n = F.concat_ws(
        ",", F.col("doc_id"), plain_text, F.col("lang"),
        F.col("source"), F.lit("NaNish"),
    )
    k = F.col("doc_id") % N_CSV_CLASSES
    line = (
        F.when(k == 0, full)
        .when(k == 1, quoted)
        .when(k == 2, F.lit("doc_id,text,lang,source,n_chars"))
        .when(k == 3, empty_text)
        .when(k == 4, truncated)
        .otherwise(bad_n)
    )
    return docs.select(F.col("doc_id").alias("line_no"), line.alias("line"))
