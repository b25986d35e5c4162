"""Model-based property testing — ports the reference's layer-3 strategy
(src/testing/model.zig: a mathematical model mirrors every operation;
src/testing/workload.zig: seeded op generator; src/testing/properties.zig:
invariant checks) to hypothesis + a dict model checked against the Spark
snapshot view."""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from kausaldb_spark.snapshot import latest_versions, visible_blocks

# r13: heavy gauntlet — opt-in via `-m scale` (see pytest.ini); the
# default driver verify run keeps the unit + oracle-parity suites
pytestmark = pytest.mark.scale

# an op is (kind, block_id, payload); sequence = position in the list + 1
_ops = st.lists(
    st.tuples(
        st.sampled_from(["put", "delete"]),
        st.integers(min_value=0, max_value=7),   # small id space → collisions
        st.integers(min_value=0, max_value=99),  # content version marker
    ),
    min_size=1,
    max_size=40,
)


def _model_visible(ops):
    """Ground-truth model: last write wins; a tombstone shadows everything
    with a lower sequence; a later put resurrects."""
    latest_put = {}   # id -> (seq, payload)
    latest_del = {}   # id -> seq
    for seq, (kind, bid, payload) in enumerate(ops, start=1):
        if kind == "put":
            latest_put[bid] = (seq, payload)
        else:
            latest_del[bid] = seq
    out = {}
    for bid, (seq, payload) in latest_put.items():
        if latest_del.get(bid, 0) < seq:
            out[bid] = (seq, payload)
    return out


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=12, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(ops=_ops)
def test_snapshot_matches_model(spark, ops):
    blocks = [
        (f"b{bid}", seq, "file://x#L1-1", "function", f"x.py:f{bid}", "w",
         "x.py", "{}", f"content-{payload}")
        for seq, (kind, bid, payload) in enumerate(ops, start=1)
        if kind == "put"
    ]
    tombs = [
        (f"b{bid}", seq, seq * 1000)
        for seq, (kind, bid, _) in enumerate(ops, start=1)
        if kind == "delete"
    ]
    bdf = spark.createDataFrame(
        blocks or [(None,) * 9],
        "id string, sequence bigint, source_uri string, unit_type string,"
        " unit_id string, codebase string, file_path string, metadata_json string, content string",
    ).where("id is not null")
    tdf = spark.createDataFrame(
        tombs or [(None, None, None)],
        "block_id string, sequence bigint, deletion_timestamp bigint",
    ).where("block_id is not null")

    got = {
        r["id"]: (r["sequence"], r["content"])
        for r in visible_blocks(bdf, tdf).collect()
    }
    want = {
        f"b{bid}": (seq, f"content-{payload}")
        for bid, (seq, payload) in _model_visible(ops).items()
    }
    assert got == want


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(ops=_ops)
def test_latest_versions_is_lww(spark, ops):
    """Invariant: latest_versions keeps exactly one row per key, the max
    order value (durability of the last write — properties.zig's durability
    invariant), for both store uses: blocks per id by sequence, and the
    file_state log per (codebase, file_path) by ingest_seq."""
    # file_state: ids 0-3 and 4-7 share file paths across two codebases, so
    # both key columns matter; a delete op is a removal row (hash NULL)
    fs_rows = [
        (f"c{bid // 4}", f"f{bid % 4}.py",
         None if kind == "delete" else str(payload), seq)
        for seq, (kind, bid, payload) in enumerate(ops, start=1)
    ]
    fs = spark.createDataFrame(
        fs_rows,
        "codebase string, file_path string, content_hash string, ingest_seq bigint",
    )
    cur = latest_versions(fs, ("codebase", "file_path"), "ingest_seq")
    assert cur.columns == fs.columns
    got_fs = {(r[0], r[1]): (r[2], r[3]) for r in cur.collect()}
    want_fs = {(cb, fp): (h, seq) for cb, fp, h, seq in fs_rows}  # last wins
    assert got_fs == want_fs

    blocks = [
        (f"b{bid}", seq, "u", "function", "x", "w", "x.py", "{}", str(payload))
        for seq, (kind, bid, payload) in enumerate(ops, start=1)
        if kind == "put"
    ]
    if not blocks:
        return
    bdf = spark.createDataFrame(
        blocks,
        "id string, sequence bigint, source_uri string, unit_type string,"
        " unit_id string, codebase string, file_path string, metadata_json string, content string",
    )
    got = {r["id"]: r["sequence"] for r in latest_versions(bdf).collect()}
    want = {}
    for seq, (kind, bid, _) in enumerate(ops, start=1):
        if kind == "put":
            want[f"b{bid}"] = max(want.get(f"b{bid}", 0), seq)
    assert got == want
