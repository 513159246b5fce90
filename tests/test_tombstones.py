"""Equality-delete tombstones (lake.delete_keys_insert) — the splice
primitive for out-of-order SCD2 re-chains: delete-by-key + append in one
atomic commit, O(stale keys) write IO instead of bucket rewrites."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from dvx.lake import LakeTable

SCHEMA = StructType(
    [
        StructField("k", StringType()),
        StructField("ver", IntegerType()),
        StructField("payload", StringType()),
    ]
)


def _rows(spark, items):
    return spark.createDataFrame(
        [(k, v, f"p-{k}-{v}") for k, v in items], SCHEMA
    )


def _keys(spark, names):
    return spark.createDataFrame([(k,) for k in names], "k string")


@pytest.fixture()
def tbl(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, num_buckets=4, bucket_cols=["k"]
    )
    # two append commits: history-like, multiple rows per key
    t.append(_rows(spark, [("a", 1), ("a", 2), ("b", 1), ("c", 1)]))
    t.append(_rows(spark, [("b", 2), ("d", 1)]))
    return t


def _contents(t):
    return sorted(
        (r.k, r.ver, r.payload) for r in t.read().collect()
    )


def test_delete_keys_insert_replaces_only_named_keys(spark, tbl):
    tbl.delete_keys_insert(
        _keys(spark, ["a", "b"]),
        _rows(spark, [("a", 10), ("b", 10), ("b", 11)]),
    )
    assert _contents(tbl) == [
        ("a", 10, "p-a-10"),
        ("b", 10, "p-b-10"),
        ("b", 11, "p-b-11"),
        ("c", 1, "p-c-1"),
        ("d", 1, "p-d-1"),
    ]
    # untouched buckets stay plain; touched buckets carry tombstones
    assert any(tbl.snapshot()["tombstones"].values())
    # a tombstone and an upsert in one bucket (c and d share it): each
    # equality delete drops only its own key's older rows
    cd = tbl.with_bucket(_keys(spark, ["c", "d"])).select("_bucket")
    assert cd.distinct().count() == 1
    tbl.delete_keys_insert(_keys(spark, ["c"]), _rows(spark, [("c", 10)]))
    tbl.upsert_delta(_rows(spark, [("d", 9)]))
    assert [r for r in _contents(tbl) if r[0] in ("c", "d")] == [
        ("c", 10, "p-c-10"),
        ("d", 9, "p-d-9"),
    ]


def test_rerun_converges(spark, tbl):
    """Crash-replay semantics: re-running the same splice must not
    duplicate — the newer tombstone covers the previous inserts."""
    for _ in range(2):
        tbl.delete_keys_insert(
            _keys(spark, ["a"]), _rows(spark, [("a", 10), ("a", 11)])
        )
    rows = [r for r in _contents(tbl) if r[0] == "a"]
    assert rows == [("a", 10, "p-a-10"), ("a", 11, "p-a-11")]


def test_append_after_delete_survives(spark, tbl):
    tbl.delete_keys_insert(_keys(spark, ["a"]), _rows(spark, [("a", 10)]))
    tbl.append(_rows(spark, [("a", 20)]))
    rows = [r for r in _contents(tbl) if r[0] == "a"]
    assert rows == [("a", 10, "p-a-10"), ("a", 20, "p-a-20")]


def test_key_filter_with_tombstones(spark, tbl):
    tbl.delete_keys_insert(_keys(spark, ["a"]), _rows(spark, [("a", 10)]))
    got = sorted(
        (r.k, r.ver)
        for r in tbl.read(key_filter=_keys(spark, ["a", "c"])).collect()
    )
    assert got == [("a", 10), ("c", 1)]


def test_time_travel_sees_pre_delete_state(spark, tbl):
    v = tbl.version()
    tbl.delete_keys_insert(_keys(spark, ["a"]), _rows(spark, [("a", 10)]))
    old = sorted((r.k, r.ver) for r in tbl.read(v).collect() if r.k == "a")
    assert old == [("a", 1), ("a", 2)]


def test_compact_tombstones_folds_and_preserves_contents(spark, tbl):
    tbl.delete_keys_insert(
        _keys(spark, ["a", "b"]), _rows(spark, [("a", 10), ("b", 10)])
    )
    before = _contents(tbl)
    folded = tbl.compact_tombstones()
    assert folded >= 1
    assert not any(tbl.snapshot()["tombstones"].values())
    assert _contents(tbl) == before
    assert tbl.compact_tombstones() == 0  # idempotent no-op


def test_compact_also_clears_tombstones(spark, tbl):
    tbl.delete_keys_insert(_keys(spark, ["a"]), _rows(spark, [("a", 10)]))
    tbl.compact(max_files_per_key=1)
    assert not any(tbl.snapshot()["tombstones"].values())
    rows = [r for r in _contents(tbl) if r[0] == "a"]
    assert rows == [("a", 10, "p-a-10")]


def test_expire_keeps_live_tombstone_files(spark, tbl):
    import os

    tbl.delete_keys_insert(_keys(spark, ["a"]), _rows(spark, [("a", 10)]))
    tbl.expire_snapshots(retain_last=1)
    for ps in tbl.snapshot()["tombstones"].values():
        for p in ps:
            assert os.path.exists(os.path.join(tbl.root, p))
    rows = [r for r in _contents(tbl) if r[0] == "a"]
    assert rows == [("a", 10, "p-a-10")]


def test_publish_mirror_refuses_pending_tombstones(spark, tbl, tmp_path):
    tbl.delete_keys_insert(_keys(spark, ["a"]), _rows(spark, [("a", 10)]))
    with pytest.raises(ValueError, match="tombstone"):
        tbl.publish_mirror(str(tmp_path / "mirror"))
    tbl.compact_tombstones()
    assert tbl.publish_mirror(str(tmp_path / "mirror")) > 0


def test_guards(spark, tmp_path):
    comp = LakeTable.create(
        spark, str(tmp_path / "comp"), SCHEMA,
        num_buckets=4, bucket_cols=["k"], partition_col="payload",
    )
    with pytest.raises(ValueError, match="plain bucketed"):
        comp.delete_keys_insert(_keys(spark, ["a"]), _rows(spark, [("a", 1)]))
    bloomed = LakeTable.create(
        spark, str(tmp_path / "bl"), SCHEMA,
        num_buckets=4, bucket_cols=["k"], properties={"key_bloom": True},
    )
    with pytest.raises(ValueError, match="key_bloom"):
        bloomed.delete_keys_insert(
            _keys(spark, ["a"]), _rows(spark, [("a", 1)])
        )


def test_staged_tombstones_and_rows_commit_as_one(spark, tbl):
    """One stage carries the rows and the tombstones and publishes as ONE
    delete_insert commit, equal to delete_keys_insert; a part staged
    before the table moved makes the commit conflict and removes its
    attempt dir."""
    import os

    from dvx.lake import CommitConflict

    v = tbl.version()
    staged = tbl.stage_write(
        _rows(spark, [("a", 10), ("b", 10)]),
        tombstone_keys=_keys(spark, ["a", "b"]),
    )
    assert staged["new_files"] and staged["tomb_files"]
    assert tbl.commit_staged(staged, "delete_insert") == v + 1
    assert tbl.history()[-1]["operation"] == "delete_insert"
    assert [r for r in _contents(tbl) if r[0] in ("a", "b")] == [
        ("a", 10, "p-a-10"), ("b", 10, "p-b-10"),
    ]

    stale = tbl.stage_write(
        _rows(spark, [("c", 10)]), tombstone_keys=_keys(spark, ["c"])
    )
    tbl.append(_rows(spark, [("e", 1)]))  # another writer moves the table
    with pytest.raises(CommitConflict):
        tbl.commit_staged(stale, "delete_insert")
    assert not os.path.exists(os.path.join(tbl.root, stale["commit_rel"]))
    assert ("c", 1, "p-c-1") in _contents(tbl)


def test_one_attempt_writes_one_commit_dir(spark, tbl):
    """Rows and tombstones of one delete_insert land in ONE commit
    directory, written by one Spark job."""
    import os

    data = os.path.join(tbl.root, "data")
    before = set(os.listdir(data))
    tbl.delete_keys_insert(
        _keys(spark, ["a", "b"]), _rows(spark, [("a", 10), ("b", 10)])
    )
    (new,) = set(os.listdir(data)) - before
    m = tbl.snapshot()
    added = [
        p for name in ("files", "tombstones") for ps in m[name].values()
        for p in ps if p.split(os.sep)[1] == new
    ]
    assert len(added) == 4  # a data file and a tombstone file per bucket


def test_delete_insert_on_an_empty_bucket_writes_no_tombstone(spark, tmp_path):
    """A tombstone on a bucket that holds no rows at the base version
    would delete nothing, so none is written: a first load commits no
    tombstones at all, and a later one tombstones only the buckets
    that hold rows."""
    t = LakeTable.create(
        spark, str(tmp_path / "t2"), SCHEMA, num_buckets=2, bucket_cols=["k"]
    )
    t.delete_keys_insert(_keys(spark, ["a"]), _rows(spark, [("a", 1)]))
    assert t.snapshot()["files"] and not t.snapshot()["tombstones"]
    # a -> bucket 0 (holds rows), b -> bucket 1 (empty)
    t.delete_keys_insert(
        _keys(spark, ["a", "b"]), _rows(spark, [("a", 2), ("b", 1)])
    )
    m = t.snapshot()
    assert sorted(m["files"]) == ["0", "1"]
    assert {k: len(ps) for k, ps in m["tombstones"].items()} == {"0": 1}
    assert _contents(t) == [("a", 2, "p-a-2"), ("b", 1, "p-b-1")]


def test_stale_rechain_uses_eq_delete_and_drain_folds(spark, tmp_path):
    """End-to-end: an out-of-order redelivery splices history in ONE
    delete_insert commit per stale epoch (the stale keys' tombstones,
    their re-chained versions and the in-order keys' displaced rows
    together), the stream drain folds the tombstones, and current state
    and full history equal the one-shot oracle."""
    from test_apply import (
        assert_frames_equal,
        current_state,
        full_history,
        oracle_state,
    )

    from dvx.apply import apply_batch
    from dvx.changelog import synthetic_changelog
    from dvx.schema import Vault
    from dvx.stream import run_stream, write_changelog_files

    # negate seq: batches are seq-ranged, so updates/deletes (large
    # original seq) land in batch 1 and the original inserts in batch 2
    # with OLDER (ts, seq) — the stale re-chain path fires in epoch 1
    cl = synthetic_changelog(spark, n_convs=40, seed=7).withColumn(
        "seq", -F.col("seq")
    ).persist()
    root = tmp_path / "w"
    v = Vault(spark, str(root), num_buckets=8)
    v.create_all_tables()
    write_changelog_files(cl, str(root) + "_cl", 2)
    run_stream(v, str(root) + "_cl", str(root) + "_ck", log_lineage=False)

    hist = v.table("sat_turn_text_hist")
    by_epoch: dict[int, list[str]] = {}
    for h in hist.history()[1:]:  # skip the create commit
        if h["summary"].get("compacted_tombstone_buckets"):
            continue  # the drain fold
        by_epoch.setdefault(h["summary"]["epochs"]["default"], []).append(
            h["operation"]
        )
    assert by_epoch == {0: ["append"], 1: ["delete_insert"]}
    # drain folded every tombstone
    assert not any(hist.snapshot()["tombstones"].values())

    oracle = Vault(spark, str(tmp_path / "oracle"), num_buckets=8)
    oracle.create_all_tables()
    apply_batch(oracle, cl)
    assert_frames_equal(current_state(v), oracle_state(cl))
    assert_frames_equal(full_history(v), full_history(oracle))
    cl.unpersist()
