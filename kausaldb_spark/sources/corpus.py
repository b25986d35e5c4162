"""Multi-format corpus readers: parquet / JSONL / CSV / raw-text directories,
all normalized to the canonical ``documents`` schema.

Real corpora arrive in whatever format the crawler or vendor produced —
JSONL dumps, CSV exports, directories of .txt files — while every operator
in this engine is written against the canonical ``documents`` relation
``(doc_id bigint, text string, lang string, source string, n_chars bigint)``.
This module is the adapter layer: one reader per physical format, one
``conform`` step that renames/synthesizes the canonical columns and applies
the schema guard, so a pipeline switches corpus formats by changing ONE
argument.

Scale notes (100 TB):
- parquet is the scale path (column pruning + predicate pushdown);
- JSONL/CSV readers accept an explicit ``schema`` — WITHOUT one, Spark
  schema-inference scans the data twice (fine for onboarding a drop, wrong
  as a steady state; the docstring on each reader says so);
- the raw-text reader uses ``wholetext`` (one row per file) — file count =
  task count, so it is for ingest-once conversion into parquet, not for
  repeated analytics over millions of tiny files (the classic small-files
  problem: convert first, then operate);
- synthesized doc ids are md5-derived from content+source (56-bit ints):
  growth-stable (a doc's id never changes when other docs appear) and
  reproducible across engines, unlike ``monotonically_increasing_id`` which
  depends on partition layout.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kausaldb_spark.sources import guard

#: canonical output column order
DOC_COLS = ("doc_id", "text", "lang", "source", "n_chars")


def _synth_id(text: Column, source: Column) -> Column:
    """Deterministic 56-bit doc id from (source, text) — content addressing
    for formats that carry no id column. 56 bits (14 hex chars) keeps the
    value exact in a bigint AND in engines that route integers through
    doubles (2^56 < 2^63; collision odds at 1e9 docs ≈ 7e-3 — acceptable
    for an onboarding id; use a real id column when the source has one)."""
    h = F.md5(F.concat_ws("\x1f", source, text))
    return F.conv(F.substring(h, 1, 14), 16, 10).cast("bigint")


def conform(
    df: DataFrame,
    id_col: str | None = "doc_id",
    text_col: str = "text",
    lang_col: str | None = "lang",
    source_col: str | None = "source",
    default_source: str = "unknown",
) -> DataFrame:
    """Map arbitrary input columns onto the canonical documents schema.
    Missing lang → 'und'; missing source → ``default_source``; missing or
    None ``id_col`` → synthesized content-address id; ``n_chars`` is always
    recomputed from the text. Ends with the schema guard so drift fails
    loudly at the load site, not mid-query."""
    cols = set(df.columns)
    text = F.col(text_col).cast("string")
    src = (
        F.coalesce(F.col(source_col).cast("string"), F.lit(default_source))
        if source_col and source_col in cols
        else F.lit(default_source)
    )
    lang = (
        F.coalesce(F.col(lang_col).cast("string"), F.lit("und"))
        if lang_col and lang_col in cols
        else F.lit("und")
    )
    if id_col and id_col in cols:
        # a non-numeric id column (common in JSONL crawls: "doc-123") would
        # cast to all-null doc_ids, pass the type-only schema guard, and then
        # silently match nothing in every downstream join — fail loudly at
        # the load site instead, like the rest of the drift guards
        cast_id = F.col(id_col).try_cast("bigint")
        did = F.when(
            F.col(id_col).isNotNull() & cast_id.isNull(),
            F.raise_error(
                F.concat(
                    F.lit(f"conform: non-numeric {id_col!r} value "),
                    F.col(id_col).cast("string"),
                    F.lit(" — drop id_col to synthesize content-address ids"),
                )
            ).cast("bigint"),
        ).otherwise(cast_id)
    else:
        did = _synth_id(text, src)
    out = df.select(
        did.alias("doc_id"),
        text.alias("text"),
        lang.alias("lang"),
        src.alias("source"),
        F.length(text).cast("bigint").alias("n_chars"),
    )
    return guard.documents(out)


def read_parquet_documents(spark: SparkSession, path: str, **kw) -> DataFrame:
    """The scale path: columnar, pruned, pushed-down."""
    return conform(spark.read.parquet(path), **kw)


def read_jsonl_documents(
    spark: SparkSession, path: str, schema: str | None = None, **kw
) -> DataFrame:
    """JSONL (one JSON object per line). Pass ``schema`` (DDL string, e.g.
    ``'doc_id long, text string, lang string'``) in production — without it
    Spark runs an extra full scan to infer one, and a corrupt line silently
    becomes a null row (they are counted and dropped here either way)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.json(path)
    # inference on corrupt-ish data yields _corrupt_record; drop it
    if "_corrupt_record" in df.columns:
        df = df.where(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    return conform(df, **kw)


def read_csv_documents(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    delimiter: str = ",",
    **kw,
) -> DataFrame:
    """CSV with a header row. Same schema advice as JSONL; multiline quoted
    fields are enabled (documents contain newlines)."""
    reader = (
        spark.read.option("header", True)
        .option("multiLine", True)
        .option("escape", '"')
        .option("delimiter", delimiter)
    )
    if schema is not None:
        reader = reader.schema(schema)
    return conform(reader.csv(path), **kw)


def read_text_dir_documents(
    spark: SparkSession, path: str, default_source: str = "files", **kw
) -> DataFrame:
    """Directory of raw text files, one DOCUMENT PER FILE (``wholetext``).
    ``source`` = the file's basename-less directory tag, id = content
    address. Ingest-once conversion path: file count = task count, so
    convert to parquet before running repeated analytics (small-files
    problem)."""
    df = (
        spark.read.text(path, wholetext=True)
        .select(
            F.col("value").alias("text"),
            F.element_at(F.split(F.input_file_name(), "/"), -1).alias("_file"),
        )
        .select(
            "text",
            F.concat(F.lit(default_source + "/"), F.col("_file")).alias("source"),
        )
    )
    return conform(df, id_col=None, source_col="source", **kw)


_READERS = {
    "parquet": read_parquet_documents,
    "jsonl": read_jsonl_documents,
    "json": read_jsonl_documents,
    "csv": read_csv_documents,
    "text": read_text_dir_documents,
    "txt": read_text_dir_documents,
}


def read_documents(
    spark: SparkSession, path: str, fmt: str | None = None, **kw
) -> DataFrame:
    """Dispatch on ``fmt`` (or infer it from the path suffix). Every reader
    returns the canonical guarded documents schema."""
    if fmt is None:
        suffix = os.path.splitext(path.rstrip("/"))[1].lstrip(".").lower()
        fmt = suffix if suffix in _READERS else "parquet"
    if fmt not in _READERS:
        raise ValueError(f"unknown corpus format {fmt!r}; one of {sorted(_READERS)}")
    return _READERS[fmt](spark, path, **kw)


def diff_documents(
    old: DataFrame, new: DataFrame, id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Snapshot diff between two corpus versions — the first question an
    incremental crawl pipeline asks (what arrived, what vanished, what
    changed) before deciding how much downstream work to re-run.

    Output: (doc_id, status) with status in {added, removed, changed,
    unchanged}; 'changed' compares md5(text), never the text itself.

    100 TB shape: each side reduces to (id, content-hash) AT THE SCAN
    (text never shuffles), then ONE full-outer equi-join on the id —
    shuffle volume is two slim hash relations regardless of document
    size. The status expression is pure codegen."""
    o = old.select(
        F.col(id_col).alias("_id"), F.md5(F.col(text_col)).alias("_ho")
    )
    n = new.select(
        F.col(id_col).alias("_id"), F.md5(F.col(text_col)).alias("_hn")
    )
    j = o.join(n, "_id", "full_outer")
    status = (
        F.when(F.col("_ho").isNull(), F.lit("added"))
        .when(F.col("_hn").isNull(), F.lit("removed"))
        .when(F.col("_ho") == F.col("_hn"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(F.col("_id").alias(id_col), status.alias("status"))
