"""Sharded training sink: determinism, balance, order, manifest verify,
and the no-global-sort plan property."""

import json
import os
import shutil
import tempfile

import pytest
from conftest import SF_DIR
from pyspark.sql import functions as F

from kausaldb_spark import sinks


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def _tmp():
    return tempfile.mkdtemp(prefix="kdb_sink_")


def test_write_is_deterministic_and_verifiable(spark, docs):
    p1, p2 = _tmp(), _tmp()
    try:
        m1 = sinks.write_training_shards(docs, p1, n_shards=8, seed=7)
        m2 = sinks.write_training_shards(docs, p2, n_shards=8, seed=7)
        assert m1["shards"] == m2["shards"]  # byte-identical manifests
        assert sinks.verify_shards(spark, p1)
        # manifest is on disk and loadable
        with open(os.path.join(p1, "_kdb_manifest.json")) as fh:
            assert json.load(fh)["n_shards"] == 8
        # a different seed produces a different order → different digests
        p3 = _tmp()
        try:
            m3 = sinks.write_training_shards(docs, p3, n_shards=8, seed=8)
            d1 = {s["shard"]: s["digest"] for s in m1["shards"]}
            d3 = {s["shard"]: s["digest"] for s in m3["shards"]}
            assert d1 != d3
        finally:
            shutil.rmtree(p3, ignore_errors=True)
    finally:
        shutil.rmtree(p1, ignore_errors=True)
        shutil.rmtree(p2, ignore_errors=True)


def test_roundtrip_preserves_rows_and_balance(spark, docs):
    p = _tmp()
    try:
        m = sinks.write_training_shards(docs, p, n_shards=8, seed=7)
        back = spark.read.parquet(p)
        n = docs.count()
        assert back.count() == n
        # no row lost or duplicated
        assert back.select("doc_id").distinct().count() == n
        # payload columns survive byte-identical
        a = docs.select("doc_id", "text").orderBy("doc_id").toPandas()
        b = back.select("doc_id", "text").orderBy("doc_id").toPandas()
        assert a.equals(b)
        # md5 sharding is balanced: max/min shard size within 2x at 500 rows
        sizes = [s["n_rows"] for s in m["shards"]]
        assert len(sizes) == 8 and sum(sizes) == n
        assert max(sizes) <= 2 * max(min(sizes), 1)
    finally:
        shutil.rmtree(p, ignore_errors=True)


def test_shard_order_matches_shard_and_shuffle(spark, docs):
    """Each shard directory, read file by file in name order (the way a
    training loader consumes ``shard=K/``), lists its rows in the
    shard_and_shuffle (shard, pos) order: the sink and the order op agree
    on what 'training order' means, and the written files carry it with
    no re-sort at read time."""
    import pyarrow.parquet as pq

    from kausaldb_spark.functions import text as tx

    p = _tmp()
    try:
        # tiny maxRecordsPerFile forces every shard to span several files,
        # so the order must hold across file boundaries too
        sinks.write_training_shards(
            docs, p, n_shards=4, seed=7, max_records_per_file=50
        )
        want = (
            tx.shard_and_shuffle(docs, n_shards=4, seed=7)
            .orderBy("shard", "pos")
            .select("shard", "doc_id")
            .toPandas()
        )
        per_shard_want = {
            s: g["doc_id"].tolist() for s, g in want.groupby("shard")
        }
        per_shard_got: dict[int, list[int]] = {}
        for d in sorted(os.listdir(p)):
            if not d.startswith("shard="):
                continue
            files = sorted(
                f for f in os.listdir(os.path.join(p, d)) if f.endswith(".parquet")
            )
            assert len(files) > 1, d
            ids = per_shard_got.setdefault(int(d.split("=", 1)[1]), [])
            for f in files:
                ids += pq.read_table(
                    os.path.join(p, d, f), columns=["doc_id"]
                ).column("doc_id").to_pylist()
        assert per_shard_got == per_shard_want
    finally:
        shutil.rmtree(p, ignore_errors=True)


def test_digest_distinguishes_null_layouts(spark):
    """Two rows that differ only in WHICH payload column is null must hash
    differently (concat_ws alone would skip nulls and alias them)."""
    a = spark.createDataFrame(
        [(1, None, "x"), (2, "x", None)], "doc_id long, text string, source string"
    )
    b = spark.createDataFrame(
        [(1, "x", None), (2, None, "x")], "doc_id long, text string, source string"
    )
    pa, pb = _tmp(), _tmp()
    try:
        ma = sinks.write_training_shards(a, pa, n_shards=1, seed=7)
        mb = sinks.write_training_shards(b, pb, n_shards=1, seed=7)
        da = {s["shard"]: s["digest"] for s in ma["shards"]}
        db = {s["shard"]: s["digest"] for s in mb["shards"]}
        assert da != db
        assert sinks.verify_shards(spark, pa) and sinks.verify_shards(spark, pb)
    finally:
        shutil.rmtree(pa, ignore_errors=True)
        shutil.rmtree(pb, ignore_errors=True)


def test_verify_detects_tamper(spark, docs):
    p = _tmp()
    try:
        sinks.write_training_shards(docs, p, n_shards=4, seed=7)
        # corrupt the manifest's digest for one shard
        mp = os.path.join(p, "_kdb_manifest.json")
        with open(mp) as fh:
            m = json.load(fh)
        m["shards"][0]["digest"] = "0"
        with open(mp, "w") as fh:
            json.dump(m, fh)
        with pytest.raises(ValueError, match="digest mismatch"):
            sinks.verify_shards(spark, p)
    finally:
        shutil.rmtree(p, ignore_errors=True)


def test_write_plan_has_no_global_sort(spark, docs):
    """The sink's sort must be sortWithinPartitions (local), never a global
    Sort — the property that keeps task memory bounded by corpus/n_shards
    at 100 TB. A global sort prints as 'Sort [...], true' in the plan."""
    work = sinks._with_shard_order(docs, 8, 7, "doc_id")
    plan = (
        work.repartition(8, F.col("shard"))
        .sortWithinPartitions("shard", "_key", "doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Sort" in plan
    for line in plan.splitlines():
        if "Sort [" in line:
            assert ", true," not in line, f"global sort in sink plan: {line}"


def test_max_records_per_file_splits_files(spark, docs):
    p = _tmp()
    try:
        sinks.write_training_shards(
            docs, p, n_shards=2, seed=7, max_records_per_file=50
        )
        # every shard dir has multiple part files of <= 50 records
        for d in sorted(os.listdir(p)):
            if not d.startswith("shard="):
                continue
            parts = [f for f in os.listdir(os.path.join(p, d)) if f.endswith(".parquet")]
            assert len(parts) >= 2
        assert sinks.verify_shards(spark, p)
    finally:
        shutil.rmtree(p, ignore_errors=True)


def test_digest_version_back_compat_for_pre_r7_manifests(spark):
    """ADVICE r7: the null-bitmap digest change must not make stores written
    under the old formula fail verify_shards as if corrupt. The manifest now
    carries digest_version; verify recomputes with the STAMPED version, and
    a manifest with no field at all (pre-r7) verifies under formula v1."""
    rows = [(1, "a", None), (2, None, "b"), (3, "c", "d")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    p = _tmp()
    try:
        m = sinks.write_training_shards(df, p, n_shards=2, seed=7)
        assert m["digest_version"] == sinks.DIGEST_VERSION == 2
        assert sinks.verify_shards(spark, p)

        # Simulate a pre-r7 store: same layout, manifest written by the v1
        # formula with NO digest_version field.
        v1 = {
            r["shard"]: (r["n_rows"], r["digest"])
            for r in sinks.shard_digests(spark, p, digest_version=1).collect()
        }
        legacy = {
            "n_shards": 2,
            "seed": 7,
            "id_col": "doc_id",
            "shards": [
                {"shard": k, "n_rows": n, "digest": d}
                for k, (n, d) in sorted(v1.items())
            ],
        }
        with open(os.path.join(p, "_kdb_manifest.json"), "w") as fh:
            json.dump(legacy, fh)
        assert sinks.verify_shards(spark, p), "pre-r7 manifest failed verify"

        # the two formulas genuinely differ on null-bearing data, so the
        # version gate is load-bearing, not vacuous
        v2 = {
            r["shard"]: r["digest"]
            for r in sinks.shard_digests(spark, p, digest_version=2).collect()
        }
        assert any(v1[k][1] != v2[k] for k in v2)
    finally:
        shutil.rmtree(p, ignore_errors=True)


def test_unstamped_v2_manifest_verifies_without_spurious_corruption(spark):
    """ADVICE r8: the r7 revision already wrote digests with the v2
    null-bitmap formula but did not yet stamp digest_version into the
    manifest. Mapping a missing field to v1 made every healthy r7 store
    fail verification as corrupt (the bitmap is in EVERY row hash, so
    v1/v2 differ on all data). verify_shards now accepts an unstamped
    manifest if EITHER formula reproduces it — and still raises when
    neither does."""
    rows = [(1, "a", None), (2, None, "b"), (3, "c", "d"), (4, "e", "f")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    p = _tmp()
    try:
        sinks.write_training_shards(df, p, n_shards=2, seed=7)
        mpath = os.path.join(p, "_kdb_manifest.json")
        with open(mpath) as fh:
            m = json.load(fh)
        assert m.pop("digest_version") == 2  # simulate the r7 unstamped write
        with open(mpath, "w") as fh:
            json.dump(m, fh)
        assert sinks.verify_shards(spark, p), "healthy r7-era store flagged corrupt"

        # genuine corruption in an unstamped store must still be caught:
        # neither formula reproduces a tampered digest
        m["shards"][0]["digest"] = str(int(m["shards"][0]["digest"]) + 1)
        with open(mpath, "w") as fh:
            json.dump(m, fh)
        with pytest.raises(ValueError, match="digest mismatch"):
            sinks.verify_shards(spark, p)
    finally:
        shutil.rmtree(p, ignore_errors=True)


def test_shard_digests_missing_path_raises(spark, tmp_path):
    # r10 ADVICE: a typo'd verify path must not read as "zero shards" —
    # os.walk on a missing dir yields nothing; only a dir that EXISTS but
    # holds no part files is the legitimate zero-survivor case
    import pytest
    from kausaldb_spark import sinks

    missing = str(tmp_path / "never_written")
    with pytest.raises(FileNotFoundError, match="no written corpus"):
        sinks.shard_digests(spark, missing)
    # an existing-but-empty dir (the zero-survivor write) still reports
    # zero shards gracefully
    empty = tmp_path / "empty_write"
    empty.mkdir()
    (empty / "_SUCCESS").touch()
    assert sinks.shard_digests(spark, str(empty)).count() == 0


# ---------------------------------------------------------------------------
# Small-files compaction
# ---------------------------------------------------------------------------

def test_compact_unpartitioned(spark, tmp_path):
    from kausaldb_spark import sinks as sk

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    df = spark.range(2000).withColumn("v", F.col("id") * 3)
    df.repartition(40).write.parquet(src)       # deliberately shredded
    before = sk.dataset_file_stats(src)
    assert before["n_files"] == 40
    stats = sk.compact_parquet_dataset(spark, src, dst,
                                       target_file_bytes=10**9)
    assert stats["rows"] == 2000
    assert stats["dst"]["n_files"] == 1          # everything fits one file
    got = sorted(
        (r["id"], r["v"]) for r in spark.read.parquet(dst).collect()
    )
    assert got == [(i, i * 3) for i in range(2000)]


def test_compact_partitioned_preserves_pruning(spark, tmp_path):
    from kausaldb_spark import sinks as sk

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    df = spark.range(900).withColumn("k", (F.col("id") % 3).cast("int"))
    # many tiny files per partition value
    df.repartition(30).write.partitionBy("k").parquet(src)
    assert sk.dataset_file_stats(src)["n_files"] >= 60
    stats = sk.compact_parquet_dataset(spark, src, dst,
                                       target_file_bytes=10**9,
                                       partition_col="k")
    assert stats["rows"] == 900
    # hive layout survives -> pruning still works
    sub = sk.dataset_file_stats(dst)["partitions"]
    assert sorted(p for p in sub if p) == ["k=0", "k=1", "k=2"]
    assert all(n == 1 for rel, (n, _b) in sub.items() if rel)
    pruned = spark.read.parquet(dst).where(F.col("k") == 1)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert pruned.count() == 300
    # the scan's partition filter binds (pruned read, not a full scan)
    assert "k=1" in plan or "PartitionFilters: [isnotnull(k" in plan


def test_compact_sizes_to_target(spark, tmp_path):
    from kausaldb_spark import sinks as sk

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    spark.range(20000).withColumn(
        "pad", F.repeat(F.lit("x"), 200)
    ).repartition(50).write.parquet(src)
    total = sk.dataset_file_stats(src)["total_bytes"]
    # pick a target that demands >= 3 outputs from the measured bytes
    stats = sk.compact_parquet_dataset(spark, src, dst,
                                       target_file_bytes=total // 3)
    assert 3 <= stats["dst"]["n_files"] <= 5
    assert stats["rows"] == 20000


def test_compact_missing_src_raises(spark, tmp_path):
    import pytest as _pt

    from kausaldb_spark import sinks as sk

    with _pt.raises(FileNotFoundError):
        sk.compact_parquet_dataset(
            spark, str(tmp_path / "nope"), str(tmp_path / "out")
        )
