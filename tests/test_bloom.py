"""Key-bloom pruning for the hub/link anti-join insert.

The contract (VERDICT r4 item 4): a batch of brand-new keys must not
read the existing key column of every bucket — the per-bucket bloom
segments prove absence, so the existence read prunes to (almost)
nothing, while re-delivered keys still read + anti-join correctly.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from dvx import bloom
from dvx.apply import _bloom_scan, _insert_new_keys
from dvx.lake import LakeTable
from dvx.schema import Vault


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


# ------------------------------------------------------------------ unit


def test_bloom_no_false_negatives_and_bounded_fp():
    keys = [_md5(f"k{i}") for i in range(5000)]
    seg = bloom.build(keys)
    assert bool(bloom.contains_any([seg], keys).all())  # no false negatives
    other = [_md5(f"other{i}") for i in range(5000)]
    fp = bloom.contains_any([seg], other).mean()
    assert fp < 0.02  # 12 bits/key, k=7 => ~0.3% expected


def test_bloom_multi_segment_or_semantics():
    a = [_md5(f"a{i}") for i in range(100)]
    b = [_md5(f"b{i}") for i in range(100)]
    segs = [bloom.build(a), bloom.build(b)]
    assert bool(bloom.contains_any(segs, a + b).all())
    miss = bloom.contains_any(segs, [_md5(f"c{i}") for i in range(1000)])
    assert miss.mean() < 0.03


def test_bloom_non_hex_keys_fall_back_to_md5():
    keys = [f"conv-{i}" for i in range(500)]
    seg = bloom.build(keys)
    assert bool(bloom.contains_any([seg], keys).all())
    assert bloom.contains_any([seg], [f"x-{i}" for i in range(500)]).mean() < 0.05


def test_bloom_empty():
    seg = bloom.build([])
    assert not bloom.contains_any([seg], ["anything"]).any()
    assert bloom.contains_any([], ["anything"]).shape == (1,)


# ----------------------------------------------------------- integration


def _keys_df(spark, names):
    return spark.createDataFrame(
        [(_md5(n), n, "2024-01-01", "src") for n in names],
        "conv_hash_key string, conv_id string, load_date string, record_source string",
    )


@pytest.fixture()
def hub(spark, tmp_path):
    v = Vault(spark, str(tmp_path / "wh"), num_buckets=8)
    v.create_all_tables()
    return v.hub_conversation


def _read_calls(monkeypatch):
    """Record every LakeTable.read bucket list."""
    calls: list = []
    orig = LakeTable.read

    def spy(self, *a, **kw):
        calls.append(kw.get("buckets"))
        return orig(self, *a, **kw)

    monkeypatch.setattr(LakeTable, "read", spy)
    return calls


COLS = ["conv_hash_key", "conv_id", "load_date", "record_source"]


def _insert(tbl, src):
    """The engine's key-table insert: the fused scan, the insert staged
    with the table's scan slice, then its commit."""
    scan = _bloom_scan(src, [("t", tbl, "conv_hash_key")])["t"]
    _insert_new_keys(tbl, src, "conv_hash_key", COLS, scan).commit()


def test_brand_new_keys_skip_existing_read(spark, hub, monkeypatch):
    _insert(hub, _keys_df(spark, [f"c{i}" for i in range(200)]))
    n1 = hub.read().count()
    assert n1 == 200
    assert hub.bloom_paths()

    calls = _read_calls(monkeypatch)
    _insert(hub, _keys_df(spark, [f"d{i}" for i in range(200)]))
    # the existence read was pruned away entirely (bloom fp would allow
    # at most a bucket or two — 400 keys at ~0.3% fp makes 0 overwhelmingly
    # likely, and any nonempty read here must still be a strict subset)
    read_buckets = [b for b in calls if b]
    assert sum(len(b) for b in read_buckets) <= 2
    assert hub.read().count() == 400


def test_redelivered_keys_still_dedup(spark, hub):
    names = [f"c{i}" for i in range(150)]
    _insert(hub, _keys_df(spark, names))
    # second delivery: 100 old + 50 new
    again = names[:100] + [f"n{i}" for i in range(50)]
    _insert(hub, _keys_df(spark, again))
    df = hub.read()
    assert df.count() == 200
    assert df.select("conv_hash_key").distinct().count() == 200


def test_insert_racing_a_commit_of_the_same_key(spark, hub, monkeypatch):
    """A competing insert of the same new key that commits while the
    insert's write job runs makes the insert's commit conflict; the
    redo re-reads the existence side at the new base, past the blooms
    the scan read, so the key lands once."""
    from tests.test_lake import _race_once

    _insert(hub, _keys_df(spark, ["a", "b", "c"]))
    armed = _race_once(monkeypatch, lambda: _insert(hub, _keys_df(spark, ["new"])))
    _insert(hub, _keys_df(spark, ["new"]))
    assert not armed["on"]  # the competing insert did land mid-write
    got = sorted(r.conv_id for r in hub.read().select("conv_id").collect())
    assert got == ["a", "b", "c", "new"]


def test_invalidation_on_replace(spark, hub):
    _insert(hub, _keys_df(spark, [f"c{i}" for i in range(100)]))
    assert hub.bloom_paths()
    touched = sorted(int(k) for k in hub.snapshot()["files"])
    contents = hub.read()
    hub.replace_buckets(touched, contents)
    # replaced buckets lose bloom coverage (safe fallback), table intact
    assert not set(hub.bloom_paths()) & set(touched)
    assert hub.read().count() == 100
    # and inserts afterwards still work (plain-read path)
    _insert(hub, _keys_df(spark, [f"q{i}" for i in range(20)]))
    assert hub.read().count() == 120


def test_expire_snapshots_keeps_live_bloom_segments(spark, hub):
    for batch in range(4):
        _insert(hub, _keys_df(spark, [f"b{batch}_{i}" for i in range(50)]))
    hub.expire_snapshots(retain_last=1)
    import os

    for ps in hub.bloom_paths().values():
        for p in ps:
            assert os.path.exists(p)
    # coverage still complete: new-key insert prunes the read
    before = hub.version()
    _insert(hub, _keys_df(spark, [f"fresh{i}" for i in range(50)]))
    assert hub.version() > before
    assert hub.read().count() == 250


def test_no_bloom_resurrection_after_invalidation(spark, hub):
    """ADVICE r5 (high): once a bucket's blooms are invalidated, a later
    bloomed append must NOT re-attach coverage — its segment covers only
    that batch, so the bucket's older keys would probe hits=0 and
    redeliveries would insert duplicates."""
    names = [f"c{i}" for i in range(100)]
    _insert(hub, _keys_df(spark, names))
    touched = sorted(int(k) for k in hub.snapshot()["files"])
    hub.replace_buckets(touched, hub.read())  # drops bloom coverage
    assert not hub.bloom_paths()
    # bloomed append of brand-new keys: buckets with pre-existing rows
    # must stay uncovered (segment covers only the new batch)
    _insert(hub, _keys_df(spark, [f"n{i}" for i in range(100)]))
    covered = set(hub.bloom_paths())
    data_buckets = {int(k) for k in hub.snapshot()["files"]}
    assert not (covered & set(touched))
    assert covered <= data_buckets
    # redeliver the ORIGINAL keys: must dedup via the plain read path
    _insert(hub, _keys_df(spark, names))
    df = hub.read()
    assert df.count() == 200
    assert df.select("conv_hash_key").distinct().count() == 200


def test_digest_choice_is_per_key():
    """ADVICE r5 (medium): a key's digest must not depend on which other
    keys share the _digest_block call (mixed hex / non-hex / None)."""
    hexk = _md5("stable")
    mixed_seg = bloom.build([hexk, "conv-1", None, "short"])
    # probed alone (homogeneous hex call), the key must still be found
    assert bool(bloom.contains_any([mixed_seg], [hexk]).all())
    homo_seg = bloom.build([hexk])
    assert bool(bloom.contains_any([homo_seg], [hexk, "conv-1", None][0:1]).all())
    # and a non-hex key built alongside hex neighbors is found too
    assert bool(bloom.contains_any([mixed_seg], ["conv-1"]).all())
    # 32-char non-hex strings md5-fallback deterministically
    odd = "z" * 32
    seg = bloom.build([odd, hexk])
    assert bool(bloom.contains_any([seg], [odd]).all())


def test_create_rejects_composite_key_bloom(spark, tmp_path):
    """ADVICE r5 (low): composite (partition+bucket) manifests would break
    the bloom scan's plain-bucket key arithmetic — refuse at create()."""
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType([
        StructField("k", StringType()), StructField("d", StringType()),
    ])
    with pytest.raises(ValueError, match="composite"):
        LakeTable.create(
            spark, str(tmp_path / "t"), schema,
            num_buckets=4, bucket_cols=["k"], partition_col="d",
            properties={"key_bloom": True},
        )


def test_direct_append_leaves_buckets_uncovered(spark, hub):
    """An append() without segments drops bloom coverage for the buckets
    it writes (no segment covers their keys), so later inserts there
    take the plain existence read and a redelivery still dedups."""
    hub.append(_keys_df(spark, [f"z{i}" for i in range(64)]))
    assert not hub.bloom_paths()
    _insert(hub, _keys_df(spark, [f"z{i}" for i in range(64)]))
    df = hub.read()
    assert df.count() == 64
    assert df.select("conv_hash_key").distinct().count() == 64


def test_plain_and_bloomed_key_tables_insert_the_same_rows(spark, tmp_path):
    """A key table without ``key_bloom`` takes the same scan-and-insert
    path as its bloomed twin (every bucket with data is a possible hit),
    so seed, redelivery and new-key batches leave identical rows."""
    from dvx.schema import HUB_CONVERSATION

    tbls = {
        bloomed: LakeTable.create(
            spark, str(tmp_path / f"hub_{bloomed}"), HUB_CONVERSATION,
            num_buckets=8, bucket_cols=["conv_hash_key"],
            properties={"key_bloom": bloomed},
        )
        for bloomed in (True, False)
    }
    seed = [f"c{i}" for i in range(150)]
    batches = [seed, seed[:100] + [f"n{i}" for i in range(50)],
               [f"m{i}" for i in range(30)]]
    for names in batches:
        for tbl in tbls.values():
            _insert(tbl, _keys_df(spark, names))
    assert tbls[True].bloom_paths() and not tbls[False].bloom_paths()
    rows = {b: sorted(t.read().select(*COLS).collect()) for b, t in tbls.items()}
    assert len(rows[True]) == 230
    assert rows[True] == rows[False]


def test_np_uint8_shift_semantics():
    """Pin the numpy ops bloom.build relies on (uint8 shift stays uint8)."""
    pos = np.array([0, 7, 8, 15], dtype=np.uint64)
    val = np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)
    assert val.dtype == np.uint8
    assert list(val) == [1, 128, 1, 128]
