"""Streaming corpus ingestion: curate crawler output as it lands.

A production pipeline does not re-curate the whole corpus when the crawler
drops a new batch of JSONL files — it streams them through the stateless
half of the curation funnel (normalize → quality/lang gate), screens near
duplicates against a persisted MinHash index, and appends survivors to the
curated store. Structured Streaming gives the machinery: file-source
discovery of new files and checkpointed exactly-once micro-batches.

What CAN stream (this module): every per-document stage — normalization,
quality metrics, language id — plus near-duplicate screening against the
index of everything already accepted. What CANNOT: corpus-global stages
(MinHash clustering, decontamination against a growing index, mixture
solving) — those run as periodic batch passes over the streamed-in store,
exactly the reference's incremental-sync-then-rebuild split
(``src/workspace/manager.zig`` sync loop; batch analogue:
``functions.curation.curate_and_write``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kausaldb_spark.functions import text as tx

#: canonical input schema for streamed JSONL corpora (file streams require
#: an explicit schema — inference would race the arriving files)
DOC_STREAM_SCHEMA = "doc_id long, text string, lang string, source string"


def stream_documents(
    spark: SparkSession,
    docs_dir: str,
    schema: str = DOC_STREAM_SCHEMA,
    files_per_trigger: int = 1,
) -> DataFrame:
    """File-source JSONL document stream. ``maxFilesPerTrigger`` keeps
    micro-batches bounded regardless of how many files the crawler dumped
    between triggers."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .json(docs_dir)
    )


def curate_stream(stream: DataFrame, min_ratio_ppm: int = 50_000) -> DataFrame:
    """The stateless curation gate as a streaming projection: normalize,
    recompute quality metrics on the normalized text, keep docs that pass
    quality ∧ language ∧ not-too-repetitive. Identical column logic to the
    batch ``curation.curate_and_write`` gate except the zlib signal — a
    pandas UDF works on streams, but the gate stays codegen-only here so
    the stream never blocks on Python workers; the repetition screen uses
    the distinct-token ratio already inside ``quality_flag``.

    Adds (n_tokens, pred_lang) to the survivors — the columns the curated
    store indexes on."""
    norm = stream.select(
        "doc_id",
        tx.normalize_text(F.col("text")).alias("text"),
        "lang", "source",
    )
    toks = tx.tokens(F.col("text"))
    qcols = tx.quality_columns(F.col("text"))
    flagged = norm.select(
        "doc_id", "text", "lang", "source",
        F.size(toks).alias("n_tokens"),
        tx.quality_flag(qcols).alias("_q"),
        tx.lang_id(toks).alias("pred_lang"),
    )
    return flagged.where(
        (F.col("_q") == 1) & (F.col("pred_lang") != "und")
    ).drop("_q")


def curated_append(
    stream: DataFrame, out_dir: str, checkpoint_dir: str
):
    """foreachBatch appender for the curated store — exactly-once (same
    contract as ``events.incremental_ingest``): the checkpoint replays a
    batch whose offsets never committed, and the ``_batch_id``-partitioned
    dynamic overwrite makes the replay idempotent — the batch's partition is
    replaced, never appended twice. A blind append would be at-least-once."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(out_dir)
        )

    return (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def curated_append_with_near_dup(
    stream: DataFrame, out_dir: str, checkpoint_dir: str, index_dir: str,
    num: int = 7, den: int = 10,
):
    """Streaming ingestion with NEAR-duplicate screening: each micro-batch
    is deduped within itself (MinHash pairs -> connected components, the
    min-id member survives) and then against everything already accepted,
    via the persisted ``dedup.minhash_index`` — so the curated store never
    admits a near-copy, without ever re-hashing the corpus.

    Steady-state cost per batch: hash the BATCH once; candidates come from
    the band-bucket equi-join against the index (corpus-side degenerate
    buckets capped); verification re-shingles only the candidate sliver of
    the store. Exactly-once: both the store and the index append via
    ``_batch_id``-partitioned dynamic overwrite, so a checkpoint replay
    REWRITES the batch's partitions instead of doubling them. A replayed
    batch may see a LARGER index than the original run (later batches
    landed before the retry) — the decision is append-monotone: a replay
    can only drop more duplicates, never admit one, and the partition
    rewrite keeps store and index consistent with the final decision.
    The index lands ``_batch_id``-partitioned for that idempotency."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        near_dup_write_batch(
            batch_df, batch_id, out_dir, index_dir, num=num, den=den
        )

    return (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def near_dup_write_batch(
    batch_df: DataFrame, batch_id: int, out_dir: str, index_dir: str,
    num: int = 7, den: int = 10,
) -> None:
    """One micro-batch of :func:`curated_append_with_near_dup`, exposed at
    module level so the crash-window replay (a foreachBatch retry after a
    kill between the store write and the index write) is directly
    testable — the test calls this twice with the same ``batch_id``."""
    from kausaldb_spark.functions import dedup as dd

    spark = batch_df.sparkSession
    batch = batch_df.persist()
    survivors = None
    try:
        pairs_in = dd.minhash_pairs_for(
            batch.select("doc_id", "text"), num=num, den=den
        )
        drop_in = (
            dd.components_from_pairs(spark, pairs_in)
            .where(F.col("doc_id") != F.col("cluster_id"))
            .select("doc_id")
        )
        batch_canon = batch.join(drop_in, "doc_id", "left_anti")
        # Replay safety: on a foreachBatch replay the store/index already
        # hold THIS batch's partition from the crashed attempt; reading it
        # back would make every doc self-match (violating
        # near_dup_vs_corpus's no-id-collision contract) and drop the
        # whole batch. Excluding _batch_id == batch_id makes the replay a
        # genuine recompute, and the partition rewrite below restores
        # store/index consistency even if the first attempt crashed
        # between the two writes.
        index = read_minhash_index(spark, index_dir, exclude_batch_id=batch_id)
        if index is not None:
            corpus_docs = (
                spark.read.parquet(out_dir)
                .where(F.col("_batch_id") != F.lit(batch_id))
                .select("doc_id", "text")
            )
            survivors = dd.filter_new_against_corpus(
                batch_canon, corpus_docs, index=index, num=num, den=den
            ).persist()
        else:
            survivors = batch_canon.persist()
        (
            survivors.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(out_dir)
        )
        (
            dd.minhash_index(survivors.select("doc_id", "text"))
            .withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(index_dir)
        )
    finally:
        batch.unpersist()
        if survivors is not None:
            survivors.unpersist()


def read_minhash_index(
    spark: SparkSession,
    index_dir: str,
    exclude_batch_id: int | None = None,
) -> DataFrame | None:
    """The streamed dedup index (_batch_id-partitioned) as one relation.
    Returns None when it does not exist yet (first batch of a fresh
    pipeline). ``exclude_batch_id`` implements the foreachBatch
    replay-safety rule: a retried batch must not see its own
    crashed-attempt partition."""
    import os

    if not os.path.isdir(index_dir):
        return None
    d = spark.read.parquet(index_dir)
    if exclude_batch_id is not None and "_batch_id" in d.columns:
        d = d.where(F.col("_batch_id") != F.lit(exclude_batch_id))
    return d.select("doc_id", "band", "bucket", "sig_v")
