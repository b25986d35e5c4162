"""MVCC snapshot view — last-writer-wins + tombstone shadowing.

Reference semantics (``src/storage/engine.zig:839-925``, ``docs/DESIGN.md:29-33``):
a read sees, per block id, the version with the highest ``sequence``, unless a
tombstone with ``sequence >= `` that version's exists, in which case the block
is invisible (a tombstone shadows everything at-or-below its own sequence —
the comparator the oracle twin, ``tombstone_where``'s docstring, and the
tombstone_sequencing scenario all pin). A rewrite with a sequence *strictly
above* the tombstone resurrects the id
(scenario ``src/tests/scenarios/tombstone_sequencing.zig``).

Equality edge (ADVICE r9): the reference's ``shadows_sequence``
(``src/storage/tombstone.zig:47``) is strictly greater (``ts.sequence >
block.sequence``) — at EQUAL sequences it keeps the block visible, while
this view hides it. The edge is unreachable in both systems: the reference
assigns every tombstone a fresh global sequence above all existing blocks
(``src/storage/engine.zig:1132-1174``), and this repo's reserve-then-write
HWM discipline (``storage.max_sequence``) does the same, so no tombstone
ever carries a sequence equal to a block's. We deliberately keep ``>=``
here because it is the safer comparator if the invariant were ever
violated (a delete can never be silently lost), matching the oracle twin.

Spark shape: argmax aggregate per ``id`` + broadcast join. At 100 TB the
aggregate is one shuffle on the snapshot's natural key, and the result is
persisted once per store version and reused by every read
(``BlockStore.visible``; the LSM engine pays the equivalent merge cost on
every read instead). Tombstone sets are tiny relative to the block set
(deletes are rare), so the tombstone join broadcasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def latest_versions(
    rows: DataFrame, keys: tuple[str, ...] = ("id",), order: str = "sequence"
) -> DataFrame:
    """Per ``keys``, the row with the highest ``order`` (last writer wins).
    Blocks resolve per ``id`` by ``sequence``; the store's file_state log
    resolves per ``(codebase, file_path)`` by ``ingest_seq``.

    Physical shape: argmax-per-key as a ``max_by`` hash aggregate — partial
    (map-side) aggregation collapses co-located versions before the
    exchange and no Sort is needed, where a row_number window shuffles
    every version row and then sorts each partition. The order column is
    unique per key (the store's reserve-then-write HWM discipline gives
    every batch a fresh range and a batch writes each key once; the graph
    fixture uses disjoint sequence bands), so the argmax is well-defined.
    Pinned by the MVCC property tests and the oracle parity sweep (whose
    DuckDB twin keeps the window formulation)."""
    cols = rows.columns  # preserve the input column order exactly
    others = [c for c in cols if c not in keys]
    packed = rows.groupBy(*keys).agg(
        F.max_by(F.struct(*others), F.col(order)).alias("_s")
    )
    return packed.select(
        *[F.col(c) if c in keys else F.col(f"_s.{c}").alias(c) for c in cols]
    )


def visible_blocks(blocks_raw: DataFrame, tombstones: DataFrame) -> DataFrame:
    """The snapshot every query reads: latest versions minus tombstoned ids."""
    latest = latest_versions(blocks_raw)
    shadow = F.broadcast(
        tombstones.groupBy("block_id").agg(F.max("sequence").alias("_ts_seq"))
    )
    return (
        latest.join(shadow, latest.id == shadow.block_id, "left")
        .where(F.col("_ts_seq").isNull() | (F.col("_ts_seq") < F.col("sequence")))
        .drop("block_id", "_ts_seq")
    )
