"""PIT build (full / incremental / range) + validator suite."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dvx.apply import apply_batch
from dvx.changelog import synthetic_changelog
from dvx.pit import build_bridge, build_pit, build_pit_incremental, build_pit_range
from dvx.schema import Vault
from dvx.validate import validate_vault
from tests.test_apply import split_batches

DATE_MID = "2024-01-01"
DATE_END = "2024-01-05"


@pytest.fixture(scope="module")
def loaded(spark, tmp_path_factory):
    changelog = synthetic_changelog(spark, n_convs=25, hot_convs=2, hot_turns=30).persist()
    vault = Vault(spark, str(tmp_path_factory.mktemp("wh")), num_buckets=4)
    vault.create_all_tables()
    for i, b in enumerate(split_batches(changelog, 3)):
        apply_batch(vault, b, epoch_id=i)
    return vault, changelog


def expected_pit(changelog, snapshot_date):
    """Oracle: latest non-delete event per key with ts <= date end."""
    asof = changelog.filter(
        F.col("ts") <= F.to_timestamp(F.lit(snapshot_date + " 23:59:59"))
    )
    latest = asof.groupBy("conv_id", "turn_idx").agg(
        F.max_by(F.struct("op", "role", "text", "tool"), F.struct("ts", "seq")).alias("r")
    )
    return latest.filter(F.col("r.op") != "D").select(
        "conv_id", "turn_idx", "r.role", "r.text", "r.tool"
    )


def test_full_pit_matches_oracle(spark, loaded):
    vault, changelog = loaded
    assert build_pit(vault, DATE_MID) == 1
    got = (
        vault.pit_turn.read(partitions=[DATE_MID])
        .select("conv_id", "turn_idx", "role", "text", "tool")
        .orderBy("conv_id", "turn_idx")
    )
    exp = expected_pit(changelog, DATE_MID).orderBy("conv_id", "turn_idx")
    assert got.collect() == exp.collect()
    # idempotence guard: second build skips
    assert build_pit(vault, DATE_MID) == 0


def test_incremental_pit_equals_full_rebuild(spark, loaded):
    """Property: rebuilding only touched keys == full rebuild (SURVEY §7.3)."""
    vault, changelog = loaded
    build_pit(vault, DATE_END, if_exists="replace")
    full = (
        vault.pit_turn.read(partitions=[DATE_END])
        .orderBy("conv_id", "turn_idx")
        .collect()
    )
    # simulate a micro-batch touching a subset of keys, then incremental fix-up
    touched = vault.hub_turn.read().filter(F.pmod(F.xxhash64("conv_id"), F.lit(3)) == 0)
    build_pit_incremental(vault, [DATE_END], touched)
    incr = (
        vault.pit_turn.read(partitions=[DATE_END])
        .orderBy("conv_id", "turn_idx")
        .collect()
    )
    assert incr == full


def test_incremental_pit_legacy_layout_fallback(spark, tmp_path):
    """A warehouse created BEFORE the composite '<date>|<bucket>' layout
    has a plain date-partitioned pit_turn. build_pit_incremental must
    detect that and fall back to the full-date overwrite — the composite
    bucket filter would match zero manifest keys and silently drop every
    untouched key's PIT row for the date (ADVICE r4)."""
    import shutil

    import dvx.lake as lake
    from dvx.schema import PIT_TURN

    v = Vault(spark, str(tmp_path / "wh"), num_buckets=4)
    v.create_all_tables()
    # recreate pit_turn in the legacy (pre-composite) layout
    shutil.rmtree(v.path("pit_turn"))
    lake._SNAP_CACHE.clear()  # same path, fresh version numbering
    lake.LakeTable.create(
        spark, v.path("pit_turn"), PIT_TURN, partition_col="snapshot_date"
    )

    changelog = synthetic_changelog(spark, n_convs=10)
    apply_batch(v, changelog, epoch_id=0)
    build_pit(v, DATE_END, if_exists="replace")
    full = (
        v.pit_turn.read(partitions=[DATE_END])
        .orderBy("conv_id", "turn_idx")
        .collect()
    )
    assert full  # the legacy full build produced rows
    touched = v.hub_turn.read().filter(
        F.pmod(F.xxhash64("conv_id"), F.lit(3)) == 0
    )
    assert 0 < touched.count() < v.hub_turn.read().count()
    build_pit_incremental(v, [DATE_END], touched)
    incr = (
        v.pit_turn.read(partitions=[DATE_END])
        .orderBy("conv_id", "turn_idx")
        .collect()
    )
    assert incr == full  # untouched keys survived the incremental fix-up


def test_pit_range_covers_spine(spark, loaded):
    vault, _ = loaded
    build_pit_range(vault, "2024-01-02", "2024-01-04")
    dates = {
        r.snapshot_date
        for r in vault.pit_turn.read().select("snapshot_date").distinct().collect()
    }
    assert {"2024-01-02", "2024-01-03", "2024-01-04"} <= dates


def test_pit_range_of_one_date_equals_full_build(spark, loaded):
    """The two PIT paths agree: the interval as-of join of
    build_pit_range over a one-day spine yields build_pit's rows."""
    vault, _ = loaded
    date = "2024-01-02"

    def rows():
        return sorted(vault.pit_turn.read(partitions=[date]).collect())

    build_pit(vault, date, if_exists="replace")
    full = rows()
    build_pit_range(vault, date, date)
    assert rows() == full
    # the date sees ended versions, not only each key's current one
    assert any(r.valid_to is not None for r in full) and len(full) > 25


def test_incremental_pit_write_io_is_o_of_touched_buckets(spark, tmp_path):
    """Scale pin (mirror of test_satellite_current_write_io_is_o_of_batch):
    pit_turn is (snapshot_date, bucket(turn_hash_key)) composite, so a
    micro-batch touching ONE key must leave every other (date, bucket)
    key's files byte-identical — the incremental PIT no longer rewrites
    the whole date partition."""
    import datetime as dt

    from dvx.schema import CHANGELOG_SCHEMA

    v = Vault(spark, str(tmp_path / "wh"), num_buckets=8)
    v.create_all_tables()
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (i, "I", f"c{i}", 0, "user", f"text {i}", None, t0) for i in range(64)
    ]
    date = "2024-01-01"
    apply_batch(v, spark.createDataFrame(rows, CHANGELOG_SCHEMA), epoch_id=0,
                pit_dates=[date])
    before = dict(v.pit_turn.snapshot()["files"])
    assert before and all("|" in k for k in before)  # composite keys

    edit = [(100, "U", "c7", 0, "user", "text 7 edited", None,
             t0 + dt.timedelta(hours=1))]
    apply_batch(v, spark.createDataFrame(edit, CHANGELOG_SCHEMA), epoch_id=1,
                pit_dates=[date])
    after = dict(v.pit_turn.snapshot()["files"])

    changed = {k for k in before if before[k] != after.get(k)}
    # exactly the one bucket holding c7's turn key was rewritten
    assert len(changed) == 1, changed
    (ck,) = changed
    assert ck.split("|", 1)[0] == date
    # every untouched key kept the exact same file list (no write IO)
    for k in before:
        if k != ck:
            assert after[k] == before[k]
    # and the rewritten bucket serves the edited text
    got = {
        (r.conv_id, r.turn_idx): r.text
        for r in v.pit_turn.read(partitions=[date]).collect()
    }
    assert got[("c7", 0)] == "text 7 edited"
    assert got[("c0", 0)] == "text 0"


def test_bridge_joins_all_layers(spark, loaded):
    vault, changelog = loaded
    bridge = build_bridge(vault)
    live = changelog.groupBy("conv_id", "turn_idx").agg(
        F.max_by("op", F.struct("ts", "seq")).alias("op")
    ).filter("op <> 'D'")
    assert bridge.count() == live.count()


def test_validators_pass_on_loaded_vault(spark, loaded):
    vault, _ = loaded
    report = validate_vault(vault, pit_dates=[DATE_MID])
    assert report["exit_code"] == 0, report["checks"]


def test_validators_catch_corruption(spark, tmp_path):
    vault = Vault(spark, str(tmp_path / "bad"), num_buckets=2)
    vault.create_all_tables()
    # two live versions for the same key — must trip sat_single_current
    import datetime as dt

    vf = dt.datetime(2024, 1, 1)
    rows = [
        ("k1", "user", "a", None, "d1", vf, None, None, 1, "2024-01-01", "src"),
        ("k1", "user", "b", None, "d2", vf, None, None, 2, "2024-01-01", "src"),
    ]
    df = spark.createDataFrame(rows, vault.sat_turn_text.schema())
    vault.sat_turn_text.append(df)
    report = validate_vault(vault)
    assert report["exit_code"] == 1
    assert not report["checks"]["sat_single_current"]["ok"]


def test_bridge_materialization_and_incremental_refresh(spark, tmp_path):
    """refresh_bridge materializes the serving pre-join; an incremental
    refresh with touched conv keys rewrites only their buckets and
    converges to the full-refresh contents."""
    from dvx.apply import apply_batch
    from dvx.changelog import synthetic_changelog
    from dvx.pit import build_bridge, refresh_bridge

    changelog = synthetic_changelog(spark, n_convs=30, hot_convs=1, hot_turns=40).persist()
    cut = changelog.selectExpr("percentile(cast(ts AS DOUBLE), 0.5) AS c").first()["c"]
    cut_ts = F.lit(cut).cast("double").cast("timestamp")
    v = Vault(spark, str(tmp_path / "wh_bridge"), num_buckets=4)
    v.create_all_tables()
    apply_batch(v, changelog.filter(F.col("ts") <= cut_ts), epoch_id=0)
    refresh_bridge(v)
    tbl = v.table("bridge_conversation_turn")
    t1 = tbl.read()
    d1 = build_bridge(v)
    assert t1.count() == d1.count()
    assert t1.exceptAll(d1).count() == 0

    # apply the rest, then refresh ONLY the touched conversations
    apply_batch(v, changelog.filter(F.col("ts") > cut_ts), epoch_id=1)
    touched = (
        changelog.filter(F.col("ts") > cut_ts)
        .select("conv_id").distinct()
        .select(F.md5(F.upper(F.trim("conv_id"))).alias("conv_hash_key"))
    )
    n = refresh_bridge(v, touched)
    assert n > 0
    t2 = tbl.read()
    d2 = build_bridge(v)
    assert t2.count() == d2.count()
    assert t2.exceptAll(d2).count() == 0
    assert tbl.snapshot()["summary"]["refreshed_sat_version"] is not None
    changelog.unpersist()


def test_cli_bridge_incremental_catches_edits(spark, tmp_path):
    """CLI-path regression for the touched-key derivation: an EDIT to a
    turn of a conversation loaded before the last bridge refresh must be
    picked up by `bridge --incremental` (hub load_dates never move on
    edits — the derivation must come from satellite commits)."""
    import datetime as dt

    from dvx.__main__ import main
    from dvx.schema import CHANGELOG_SCHEMA

    wh = str(tmp_path / "wh")
    base = ["--warehouse", wh, "--num-buckets", "4"]
    v = Vault(spark, wh, num_buckets=4)
    v.create_all_tables()

    def ev(seq, op, conv, idx, text, ts):
        return (seq, op, conv, idx, "user", text, None, ts)

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    b1 = spark.createDataFrame(
        [ev(1, "I", "c1", 0, "hello", t0), ev(2, "I", "c2", 0, "hi", t0)],
        CHANGELOG_SCHEMA,
    )
    apply_batch(v, b1, epoch_id=0)
    assert main([*base, "bridge"]) == 0  # full refresh records the watermark

    # an edit to the PRE-EXISTING conversation c1 (no new hub rows at all)
    b2 = spark.createDataFrame(
        [ev(3, "U", "c1", 0, "hello edited", t0 + dt.timedelta(hours=1))],
        CHANGELOG_SCHEMA,
    )
    apply_batch(v, b2, epoch_id=1)
    assert main([*base, "bridge", "--incremental"]) == 0
    got = {
        (r.conv_id, r.turn_idx): r.text
        for r in v.table("bridge_conversation_turn").read().collect()
    }
    assert got[("c1", 0)] == "hello edited"
    assert got[("c2", 0)] == "hi"

    # nothing changed since: incremental refresh is a no-op (0 buckets)
    assert main([*base, "bridge", "--incremental"]) == 0
