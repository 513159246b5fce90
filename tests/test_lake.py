"""ACID lake-table format: snapshots, COW replace, time travel, rollback,
expiry, compaction, epoch tracking, additive evolution.

These mirror the Iceberg capabilities the reference relies on
(IcebergWriter.scala — SURVEY.md §2.1 S5-S13, §2.9 D4).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from dvx.lake import BUCKET_COL, LakeTable

SCHEMA = StructType(
    [
        StructField("k", StringType()),
        StructField("v", IntegerType()),
    ]
)


@pytest.fixture()
def tbl(spark, tmp_path):
    return LakeTable.create(
        spark,
        str(tmp_path / "t"),
        SCHEMA,
        num_buckets=4,
        bucket_cols=["k"],
    )


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _rows(t):
    return sorted((r.k, r.v) for r in t.read().collect())


def _bucket(t, spark, k):
    return t.with_bucket(_df(spark, [(k, 0)])).select(BUCKET_COL).first()[0]


def test_create_is_idempotent(spark, tmp_path):
    root = str(tmp_path / "t")
    t1 = LakeTable.create(spark, root, SCHEMA, num_buckets=4, bucket_cols=["k"])
    t2 = LakeTable.create(spark, root, SCHEMA, num_buckets=4, bucket_cols=["k"])
    assert t1.version() == t2.version() == 1


def test_append_and_read(spark, tbl):
    tbl.append(_df(spark, [("a", 1), ("b", 2)]))
    tbl.append(_df(spark, [("c", 3)]))
    got = sorted((r.k, r.v) for r in tbl.read().collect())
    assert got == [("a", 1), ("b", 2), ("c", 3)]


def test_merge_upsert_only_rewrites_touched_buckets(spark, tbl):
    """A copy-on-write upsert (read the touched buckets, replace them)
    rewrites only the buckets the source batch touches."""
    tbl.append(_df(spark, [("a", 1), ("b", 2), ("c", 3)]))
    v_before = tbl.version()
    files_before = tbl.snapshot()["files"]

    src = _df(spark, [("a", 10), ("d", 4)])
    touched = sorted({_bucket(tbl, spark, "a"), _bucket(tbl, spark, "d")})
    keep = tbl.read(buckets=touched).join(src.select("k"), "k", "left_anti")
    tbl.replace_buckets(touched, keep.unionByName(src))
    assert _rows(tbl) == [("a", 10), ("b", 2), ("c", 3), ("d", 4)]

    # untouched buckets carried over as metadata (identical file paths)
    files_after = tbl.snapshot()["files"]
    for key, paths in files_before.items():
        if int(key) not in touched:
            assert files_after.get(key) == paths
    assert tbl.version() == v_before + 1


def test_time_travel_and_rollback(spark, tbl):
    tbl.append(_df(spark, [("a", 1)]))
    v1 = tbl.version()
    tbl.append(_df(spark, [("b", 2)]))
    assert tbl.read(v1).count() == 1
    assert tbl.read().count() == 2
    tbl.rollback(v1)
    assert tbl.read().count() == 1
    ops = [h["operation"] for h in tbl.history()]
    assert ops[-1] == "rollback"


def test_expire_snapshots_keeps_live_files(spark, tbl):
    for i in range(6):
        tbl.append(_df(spark, [(f"k{i}", i)]))
    removed = tbl.expire_snapshots(retain_last=2)
    assert removed == 0  # append-only: every file is still live
    assert len(tbl._versions()) == 2
    assert tbl.read().count() == 6


def test_expire_reclaims_replaced_merge_files(spark, tbl):
    tbl.append(_df(spark, [("a", 1)]))
    bucket = _bucket(tbl, spark, "a")
    for i in range(3):
        tbl.replace_buckets([bucket], _df(spark, [("a", i)]))
    removed = tbl.expire_snapshots(retain_last=1)
    assert removed > 0
    assert [(r.k, r.v) for r in tbl.read().collect()] == [("a", 2)]


def test_compact_reduces_files(spark, tbl):
    for i in range(4):
        tbl.append(_df(spark, [("a", i), ("b", i)]))
    before = sum(len(p) for p in tbl.snapshot()["files"].values())
    tbl.compact(max_files_per_key=1)
    after = sum(len(p) for p in tbl.snapshot()["files"].values())
    assert after < before
    assert tbl.read().count() == 8


def test_epoch_tracking(spark, tbl):
    assert tbl.last_epoch("s1") == -1
    tbl.append(_df(spark, [("a", 1)]), summary={"epochs": {"s1": 0}})
    tbl.append(_df(spark, [("b", 2)]), summary={"epochs": {"s1": 3}})
    assert tbl.last_epoch("s1") == 3
    assert tbl.last_epoch("other") == -1
    # lower epoch never regresses the max
    tbl.append(_df(spark, [("c", 3)]), summary={"epochs": {"s1": 1}})
    assert tbl.last_epoch("s1") == 3


def test_add_columns_null_fills_history(spark, tbl):
    tbl.append(_df(spark, [("a", 1)]))
    tbl.add_columns([StructField("model", StringType())])
    df = spark.createDataFrame([("b", 2, "m1")], tbl.schema())
    tbl.append(df)
    rows = {r.k: r.model for r in tbl.read().collect()}
    assert rows == {"a": None, "b": "m1"}


def test_partitioned_overwrite(spark, tmp_path):
    schema = StructType(
        [StructField("d", StringType()), StructField("n", IntegerType())]
    )
    t = LakeTable.create(spark, str(tmp_path / "p"), schema, partition_col="d")
    t.append(spark.createDataFrame([("2024-01-01", 1), ("2024-01-02", 2)], schema))
    t.overwrite_partitions(spark.createDataFrame([("2024-01-02", 99)], schema))
    got = sorted((r.d, r.n) for r in t.read().collect())
    assert got == [("2024-01-01", 1), ("2024-01-02", 99)]
    # partition-pruned read touches only one key's files
    assert t.read(partitions=["2024-01-01"]).count() == 1


def test_bucket_pruned_read(spark, tbl):
    rows = [(f"k{i}", i) for i in range(20)]
    tbl.append(_df(spark, rows))
    one = tbl.with_bucket(_df(spark, [("k7", 0)])).select(BUCKET_COL).first()[0]
    pruned = tbl.read(buckets=[one])
    assert pruned.count() < 20
    assert "k7" in {r.k for r in pruned.collect()}


def test_delta_manifests_and_checkpoints(spark, tbl):
    """Commits between checkpoints are delta manifests (O(touched keys)
    metadata); resolution folds them onto the checkpoint and time travel
    still sees every version."""
    from dvx.lake import _CHECKPOINT_EVERY

    for i in range(_CHECKPOINT_EVERY + 3):  # cross one checkpoint boundary
        tbl.append(_df(spark, [(f"k{i}", i)]))
    raw = {v: tbl._read_manifest(v) for v in tbl._versions()}
    deltas = [v for v, m in raw.items() if "files" not in m]
    fulls = [v for v, m in raw.items() if "files" in m]
    assert deltas, "expected delta manifests between checkpoints"
    assert _CHECKPOINT_EVERY in fulls, "checkpoint version must embed full map"
    # a delta's metadata is O(touched): exactly the appended key's bucket
    assert all(len(raw[v].get("files_set", {})) <= 2 for v in deltas)
    # resolution: latest sees all rows; a mid-chain delta version resolves too
    assert tbl.read().count() == _CHECKPOINT_EVERY + 3
    mid = deltas[len(deltas) // 2]
    assert tbl.read(version=mid).count() == mid - 1  # v1=create, each append +1


def test_expire_rewrites_oldest_delta_as_checkpoint(spark, tbl):
    for i in range(8):
        tbl.append(_df(spark, [(f"k{i}", i)]))
    tbl.expire_snapshots(retain_last=3)
    vs = tbl._versions()
    assert len(vs) == 3
    assert "files" in tbl._read_manifest(vs[0])  # self-contained chain
    assert tbl.read().count() == 8
    assert tbl.read(version=vs[0]).count() == vs[0] - 1


# ------------------------------------- row-level change: equality deletes


def test_upsert_delta_last_wins_read(spark, tbl):
    """An upsert is an equality delete plus an insert in one commit: the
    read serves the newest commit's row per key."""
    tbl.append(_df(spark, [("a", 1), ("b", 2), ("c", 3)]))
    tbl.upsert_delta(_df(spark, [("a", 10), ("d", 40)]))
    tbl.upsert_delta(_df(spark, [("a", 100)]))
    got = sorted((r.k, r.v) for r in tbl.read().collect())
    assert got == [("a", 100), ("b", 2), ("c", 3), ("d", 40)]
    assert [h["operation"] for h in tbl.history()][-2:] == ["delete_insert"] * 2
    # nothing in the base was rewritten: the upserts added files only
    assert tbl.snapshot()["summary"]["total_tombstone_files"] >= 2


def test_upsert_delta_write_io_is_o_of_changed_rows(spark, tbl):
    """Upserting one key must not rewrite its bucket: the commit adds one
    data file and one tombstone file, and the base stays as it was."""
    tbl.append(_df(spark, [(f"k{i}", i) for i in range(64)]))
    files_before = dict(tbl.snapshot()["files"])
    tbl.upsert_delta(_df(spark, [("k0", -1)]))
    m = tbl.snapshot()
    b = str(_bucket(tbl, spark, "k0"))
    assert m["files"] == {**files_before, b: files_before[b] + m["files"][b][-1:]}
    assert m["summary"]["added_files"] == 1
    assert {k: len(ps) for k, ps in m["tombstones"].items()} == {b: 1}
    assert [r.v for r in tbl.read().filter("k = 'k0'").collect()] == [-1]
    assert tbl.read().count() == 64


def test_replace_buckets_supersedes_deltas(spark, tbl):
    tbl.append(_df(spark, [("a", 1)]))
    tbl.upsert_delta(_df(spark, [("a", 10)]))
    bucket = _bucket(tbl, spark, "a")
    assert tbl.snapshot()["tombstones"].get(str(bucket))
    tbl.replace_buckets([bucket], _df(spark, [("a", 99)]))
    m = tbl.snapshot()
    assert not m["tombstones"].get(str(bucket))
    assert [r.v for r in tbl.read().collect()] == [99]


def test_compact_deltas_folds_and_preserves_contents(spark, tbl):
    """The fold is thresholded on the bucket's tombstone file count;
    ``compact_deltas`` is its former name."""
    tbl.append(_df(spark, [("a", 1), ("b", 2)]))
    for i in range(3):
        tbl.upsert_delta(_df(spark, [("a", 10 + i)]))
    before = sorted((r.k, r.v) for r in tbl.read().collect())
    assert tbl.compact_tombstones(min_files=4) == 0  # below the threshold
    assert tbl.compact_deltas(max_delta_files=3) == 1
    m = tbl.snapshot()
    assert not any(m["tombstones"].values())
    assert len(m["files"][str(_bucket(tbl, spark, "a"))]) == 1
    assert sorted((r.k, r.v) for r in tbl.read().collect()) == before


def _task_counts(spark, group: str, fn) -> list[int]:
    """Run ``fn`` under job group ``group``; return the task count of
    every stage its jobs ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    stages = [
        st.getStageInfo(s)
        for j in st.getJobIdsForGroup(group)
        for s in st.getJobInfo(j).stageIds
    ]
    return [s.numTasks for s in stages if s is not None]


def test_rewrites_are_sized_by_their_data(spark, tmp_path):
    """A rewrite of a few rows on a 16-bucket table runs its write stage
    in at most ``spark.sql.shuffle.partitions`` tasks (AQE coalesces the
    writer exchange; a fixed ``4 x num_buckets`` count would launch 64
    mostly empty tasks), and a fold still leaves one data file per key."""
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, num_buckets=16, bucket_cols=["k"]
    )
    keys = [f"k{i}" for i in range(24)]
    t.append(_df(spark, [(k, 0) for k in keys]))
    t.upsert_delta(_df(spark, [(k, 1) for k in keys[:12]]))
    t.upsert_delta(_df(spark, [(k, 2) for k in keys[:6]]))
    folded = sorted(t.snapshot()["tombstones"])
    assert len(folded) > 1

    def fold():
        assert t.compact_tombstones() == len(folded)

    tasks = {"compact_tombstones": _task_counts(spark, "width-fold", fold)}
    m = t.snapshot()
    assert not any(m["tombstones"].values())
    assert all(len(m["files"][k]) == 1 for k in folded)
    assert _rows(t) == sorted(
        [(k, 2) for k in keys[:6]] + [(k, 1) for k in keys[6:12]]
        + [(k, 0) for k in keys[12:]]
    )

    touched = sorted({_bucket(t, spark, k) for k in keys[:3]})
    tasks["replace_buckets"] = _task_counts(
        spark, "width-replace",
        lambda: t.replace_buckets(
            touched,
            t.read(keys=touched).withColumn("v", F.col("v") + 10),
        ),
    )
    assert all(len(t.snapshot()["files"][str(b)]) == 1 for b in touched)

    schema = StructType(SCHEMA.fields + [StructField("d", StringType())])
    comp = LakeTable.create(
        spark, str(tmp_path / "c"), schema, num_buckets=16, bucket_cols=["k"],
        partition_col="d",
    )
    rows = [(k, 0, d) for k in keys for d in ("d1", "d2")]
    comp.append(spark.createDataFrame(rows, schema))
    tasks["overwrite_partitions"] = _task_counts(
        spark, "width-overwrite",
        lambda: comp.overwrite_partitions(
            spark.createDataFrame([(k, 5, "d2") for k in keys], schema)
        ),
    )
    assert sorted((r.k, r.v, r.d) for r in comp.read().collect()) == sorted(
        [(k, 0, "d1") for k in keys] + [(k, 5, "d2") for k in keys]
    )
    for op, counts in tasks.items():
        assert counts and max(counts) <= width, (op, counts)


def test_time_travel_sees_deltas_as_of_version(spark, tbl):
    tbl.append(_df(spark, [("a", 1)]))
    v1 = tbl.version()
    tbl.upsert_delta(_df(spark, [("a", 2)]))
    v2 = tbl.version()
    tbl.upsert_delta(_df(spark, [("a", 3)]))
    assert [r.v for r in tbl.read(version=v1).collect()] == [1]
    assert [r.v for r in tbl.read(version=v2).collect()] == [2]
    assert [r.v for r in tbl.read().collect()] == [3]


def test_expire_keeps_live_delta_files(spark, tbl):
    tbl.append(_df(spark, [("a", 1)]))
    tbl.upsert_delta(_df(spark, [("a", 2)]))
    for i in range(12):
        tbl.append(_df(spark, [(f"x{i}", i)]))
    tbl.expire_snapshots(retain_last=3)
    # the upsert's tombstone and data files are still referenced by the
    # latest snapshot
    m = tbl.snapshot()
    assert any(m["tombstones"].values())
    for name in ("files", "tombstones"):
        for ps in m[name].values():
            for p in ps:
                assert os.path.exists(os.path.join(tbl.root, p))
    assert [r.v for r in tbl.read().filter("k = 'a'").collect()] == [2]


def test_concurrent_writers_occ(spark, tmp_path):
    """Optimistic concurrency under REAL contention: N threads appending
    to one table simultaneously. Every commit must land (no lost
    update), versions must be dense, and every manifest-referenced file
    must exist — the CommitConflict retry loop is load-bearing."""
    import os
    from concurrent.futures import ThreadPoolExecutor

    tbl = LakeTable.create(
        spark, str(tmp_path / "occ"), SCHEMA, num_buckets=4, bucket_cols=["k"]
    )
    n_writers, rows_each = 8, 5

    def write(i):
        tbl.append(_df(spark, [(f"w{i}_r{j}", i * 100 + j) for j in range(rows_each)]))

    with ThreadPoolExecutor(max_workers=n_writers) as ex:
        list(ex.map(write, range(n_writers)))

    # no lost update, no duplicate
    assert tbl.read().count() == n_writers * rows_each
    assert tbl.read().select("k").distinct().count() == n_writers * rows_each
    # versions dense: create + one commit per writer, no gaps
    vs = tbl._versions()
    assert vs == list(range(1, n_writers + 2))
    # every file referenced by the final snapshot exists on disk
    m = tbl.snapshot()
    for ps in m["files"].values():
        for p in ps:
            assert os.path.exists(os.path.join(tbl.root, p))


def test_concurrent_delta_upserts_converge(spark, tmp_path):
    """Concurrent upserts to DISJOINT keys: all land, and the read
    serves every key's newest row."""
    from concurrent.futures import ThreadPoolExecutor

    tbl = LakeTable.create(
        spark, str(tmp_path / "occd"), SCHEMA, num_buckets=4, bucket_cols=["k"]
    )
    tbl.append(_df(spark, [(f"k{i}", 0) for i in range(6)]))

    def upsert(i):
        tbl.upsert_delta(_df(spark, [(f"k{i}", i + 10)]))

    with ThreadPoolExecutor(max_workers=6) as ex:
        list(ex.map(upsert, range(6)))

    got = {r.k: r.v for r in tbl.read().collect()}
    assert got == {f"k{i}": i + 10 for i in range(6)}


def test_read_key_filter_prunes_below_tombstone_resolution(spark, one):
    """key_filter semantics: per-key newest-row resolution is preserved
    for kept keys, other keys are absent, and the semi-join sits BELOW
    the tombstone resolution join (the join never hashes rows of keys
    the caller didn't ask for). One bucket, so the whole read is the
    tombstone-resolving branch."""
    tbl = one
    tbl.append(_df(spark, [("a", 1), ("b", 2), ("c", 3)]))
    tbl.upsert_delta(_df(spark, [("a", 10), ("d", 40)]))
    tbl.upsert_delta(_df(spark, [("a", 100), ("b", 20)]))

    kf = spark.createDataFrame([("a",), ("d",), ("zz",)], "k string")
    got = sorted((r.k, r.v) for r in tbl.read(key_filter=kf).collect())
    # newest row for kept keys; b/c filtered out; zz absent from table
    assert got == [("a", 100), ("d", 40)]

    # plan shape: the LeftSemi join is a descendant of the resolution's
    # LeftOuter join, not above it (deeper in the tree prints later)
    plan = tbl.read(key_filter=kf)._jdf.queryExecution().optimizedPlan().toString()
    outer_at = plan.find("LeftOuter")
    assert outer_at != -1 and "LeftSemi" in plan[outer_at:]
    assert "LeftSemi" not in plan[:outer_at]

    # non-bucketed tables refuse key_filter instead of mis-filtering
    flat = LakeTable.create(
        spark, tbl.root + "_flat",
        StructType([StructField("k", StringType())]),
    )
    with pytest.raises(ValueError, match="bucketed"):
        flat.read(key_filter=kf)


def test_read_of_no_files_is_an_empty_relation(spark, tmp_path):
    """A read that selects no file is an empty LocalRelation typed like a
    file-backed read of the same arguments, so a join against it folds
    away before planning (no scan, no task)."""
    typed = StructType(
        [
            StructField("k", StringType()),
            StructField("v", IntegerType()),
            StructField("n", LongType()),
            StructField("ts", TimestampType()),
        ]
    )

    def make(name):
        return LakeTable.create(
            spark, str(tmp_path / name), typed, num_buckets=4, bucket_cols=["k"]
        )

    empty, full = make("empty"), make("full")
    full.append(spark.createDataFrame([("a", 1, 1, None)], typed))
    full.upsert_delta(spark.createDataFrame([("a", 2, 2, None)], typed))
    with_files = {int(k) for k in full.snapshot()["files"]}
    assert len(with_files) == 1
    bare = next(b for b in range(4) if b not in with_files)

    kf = spark.createDataFrame([("a",)], "k string")
    probe = spark.createDataFrame([("a", 7)], "k string, x int")
    variants = {
        "all": {},
        "columns": {"columns": ["v"]},
        "key_filter": {"key_filter": kf},
    }
    for name, kw in variants.items():
        file_backed = full.read(**kw)
        for selection in (empty.read(**kw), full.read(buckets=[bare], **kw)):
            plan = selection._jdf.queryExecution().optimizedPlan().toString()
            assert plan.startswith("LocalRelation <empty>"), (name, plan)
            assert [(f.name, f.dataType) for f in selection.schema.fields] == [
                (f.name, f.dataType) for f in file_backed.schema.fields
            ], name
            joined = probe.join(selection, "k", "left")
            jplan = joined._jdf.queryExecution().optimizedPlan().toString()
            assert "Join" not in jplan, (name, jplan)
            assert joined.collect() == [(
                "a", 7, *[None] * (len(selection.columns) - 1)
            )]
    # columns= keeps the bucket key
    assert full.read(buckets=[bare], columns=["v"]).columns == ["k", "v"]


# ------------------------------------------- one write path: replace + OCC


@pytest.fixture()
def one(spark, tmp_path):
    """A one-bucket table: every key shares bucket "0"."""
    return LakeTable.create(
        spark, str(tmp_path / "one"), SCHEMA, num_buckets=1, bucket_cols=["k"]
    )


def _keys(spark, names):
    return spark.createDataFrame([(k,) for k in names], "k string")


def _unreferenced_attempt_dirs(t):
    """``data/c*`` directories no manifest of the table references."""
    referenced = set()
    for v in t._versions():
        m = t.snapshot(v)
        for name in ("files", "blooms", "tombstones"):
            for ps in m[name].values():
                referenced.update(p.split(os.sep)[1] for p in ps)
    return set(os.listdir(os.path.join(t.root, "data"))) - referenced


def _race_once(monkeypatch, competitor):
    """Make the next data-file write first run ``competitor`` (one
    commit by another writer), so it lands between the writer's base
    read and its commit."""
    write_files = LakeTable._write_files
    armed = {"on": True}

    def racing(self, *args, **kwargs):
        if armed["on"]:
            armed["on"] = False
            competitor()
        return write_files(self, *args, **kwargs)

    monkeypatch.setattr(LakeTable, "_write_files", racing)
    return armed


def test_overwrite_partitions_supersedes_pending_deltas(spark, one):
    """Overwriting a bucket replaces its pending tombstones too: an older
    tombstone must not hide a row the overwrite wrote."""
    one.append(_df(spark, [("a", 1)]))
    one.delete_keys_insert(_keys(spark, ["c"]), _df(spark, [("c", 3)]))
    one.upsert_delta(_df(spark, [("a", 2)]))
    assert len(one.snapshot()["tombstones"]["0"]) == 2
    one.overwrite_partitions(_df(spark, [("a", 99)]))
    assert not one.snapshot()["tombstones"].get("0")
    assert _rows(one) == [("a", 99)]


@pytest.mark.parametrize("fold", ["compact_deltas", "compact_tombstones"])
def test_fold_keeps_a_commit_that_lands_mid_fold(spark, one, monkeypatch, fold):
    """A writer that commits between a fold's read and its commit is
    folded in, not lost: the fold reads again at the new base."""
    one.append(_df(spark, [("a", 1)]))
    if fold == "compact_deltas":
        one.upsert_delta(_df(spark, [("a", 2)]))
    else:
        one.delete_keys_insert(_keys(spark, ["a"]), _df(spark, [("a", 2)]))
    armed = _race_once(
        monkeypatch, lambda: one.upsert_delta(_df(spark, [("c", 3)]))
    )
    kwargs = {"max_delta_files": 1} if fold == "compact_deltas" else {}
    assert getattr(one, fold)(**kwargs) == 1
    assert not armed["on"]  # the competing commit did land mid-fold
    assert _rows(one) == [("a", 2), ("c", 3)]
    assert one._versions() == list(range(1, one.version() + 1))
    assert not _unreferenced_attempt_dirs(one)


_OCC_OPS = {
    "append": lambda spark, t: t.append(_df(spark, [("x", 5)])),
    "upsert_delta": lambda spark, t: t.upsert_delta(_df(spark, [("a", 5)])),
    "delete_keys_insert": lambda spark, t: t.delete_keys_insert(
        _keys(spark, ["a"]), _df(spark, [("a", 5), ("a", 6)])
    ),
    "overwrite_partitions": lambda spark, t: t.overwrite_partitions(
        _df(spark, [("a", 5)])
    ),
    "replace_buckets": lambda spark, t: t.replace_buckets(
        [_bucket(t, spark, "a")], _df(spark, [("a", 5)])
    ),
    "compact": lambda spark, t: t.compact(max_files_per_key=1),
}


@pytest.mark.parametrize("op", sorted(_OCC_OPS))
def test_occ_retry_equals_serial(spark, tmp_path, monkeypatch, op):
    """Every data write resolves a concurrent commit through the OCC
    retry: a competing commit lands mid-write once, the op stages again
    from the new base, and the table ends equal to the serial order
    (competitor first, then the op) with dense versions and no attempt
    directory left unreferenced."""

    def setup(name):
        t = LakeTable.create(
            spark, str(tmp_path / name), SCHEMA, num_buckets=4, bucket_cols=["k"]
        )
        t.append(_df(spark, [("a", 1), ("b", 2), ("c", 3), ("d", 4)]))
        t.append(_df(spark, [("e", 5), ("f", 6)]))
        t.upsert_delta(_df(spark, [("b", 20)]))
        return t

    def compete(t):
        t.append(_df(spark, [("z", 26)]))

    serial = setup("serial")
    compete(serial)
    _OCC_OPS[op](spark, serial)

    raced = setup("raced")
    armed = _race_once(monkeypatch, lambda: compete(raced))
    _OCC_OPS[op](spark, raced)
    assert not armed["on"]  # the competing commit did land mid-write

    assert _rows(raced) == _rows(serial)
    assert raced._versions() == list(range(1, raced.version() + 1))
    assert raced.version() == serial.version()
    assert [h["operation"] for h in raced.history()] == [
        h["operation"] for h in serial.history()
    ]
    assert not _unreferenced_attempt_dirs(raced)


def test_legacy_delta_chain_folded_reads_unfolded_refused(spark, one):
    """Snapshots written by the former merge-on-read path: a chain whose
    delta files were folded resolves and reads normally, while one that
    still holds delta files is refused by read and by a write instead of
    served without them."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dvx.lake import _SNAP_CACHE

    one.append(_df(spark, [("a", 1), ("b", 2)]))
    one.append(_df(spark, [("a", 10)]))
    frame = one._read_manifest(3)  # an append: schema, layout, summary
    (new,) = frame["files_set"]["0"][-1:]

    def commit_legacy(v, **maps):
        with open(os.path.join(one.root, "_log", f"v{v:010d}.json"), "w") as f:
            json.dump({**frame, "version": v, "delta_base": v - 1, **maps}, f)
        _SNAP_CACHE.clear()

    # v3 as the former upsert_delta committed it: its file in "deltas"
    commit_legacy(3, operation="upsert_delta", files_set={}, deltas_set={"0": [new]})
    with pytest.raises(ValueError, match="merge-on-read"):
        one.read()
    with pytest.raises(ValueError, match="merge-on-read"):
        one.append(_df(spark, [("c", 3)]))
    with pytest.raises(ValueError, match="merge-on-read"):
        one.delete_keys_insert(_keys(spark, ["a"]), _df(spark, [("a", 5)]))
    assert one.version() == 3

    # v4 as the former fold committed it: the merged rows as one base
    # file, the delta map dropped
    folded = os.path.join("data", "c0000000004-legacy", "_p=0", "part-0.parquet")
    os.makedirs(os.path.dirname(os.path.join(one.root, folded)))
    pq.write_table(
        pa.table({"k": ["a", "b"], "v": pa.array([10, 2], pa.int32())}),
        os.path.join(one.root, folded),
    )
    commit_legacy(4, operation="merge", files_set={"0": [folded]}, deltas_drop=["0"])
    assert "deltas" not in one.snapshot()
    assert _rows(one) == [("a", 10), ("b", 2)]
    assert sorted((r.k, r.v) for r in one.read(2).collect()) == [("a", 1), ("b", 2)]
    one.upsert_delta(_df(spark, [("b", 20)]))
    assert _rows(one) == [("a", 10), ("b", 20)]
