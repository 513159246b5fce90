"""CDC apply conformance: LWW, SCD2 versioning, idempotency, ordering,
deletes, evolution — the SURVEY.md §5 test plan items 2-5.

Oracle: apply-all-at-once reduction of the changelog in plain SQL
(latest event per key), which the engine's multi-batch replay must match.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dvx.apply import apply_batch, prepare_batch
from dvx.changelog import synthetic_changelog
from dvx.schema import Vault


@pytest.fixture(scope="module")
def changelog(spark):
    return synthetic_changelog(spark, n_convs=40, hot_convs=2, hot_turns=60).persist()


def make_vault(spark, tmp_path) -> Vault:
    v = Vault(spark, str(tmp_path / "wh"), num_buckets=4)
    v.create_all_tables()
    return v


def current_state(vault):
    """Engine's live satellite rows joined back to turn identity."""
    sat = vault.sat_turn_text.read().filter(
        F.col("valid_to").isNull() & F.col("is_deleted").isNull()
    )
    hub = vault.hub_turn.read().select("turn_hash_key", "conv_id", "turn_idx")
    return (
        sat.join(hub, "turn_hash_key")
        .select("conv_id", "turn_idx", "role", "text", "tool")
        .orderBy("conv_id", "turn_idx")
    )


def oracle_state(changelog):
    """Batch oracle: last writer (ts, seq) per (conv_id, turn_idx), minus
    keys whose last event is a delete."""
    latest = changelog.groupBy("conv_id", "turn_idx").agg(
        F.max_by(F.struct("op", "role", "text", "tool"), F.struct("ts", "seq")).alias("r")
    )
    return (
        latest.filter(F.col("r.op") != "D")
        .select("conv_id", "turn_idx", "r.role", "r.text", "r.tool")
        .orderBy("conv_id", "turn_idx")
    )


def assert_frames_equal(a, b):
    la, lb = a.collect(), b.collect()
    assert len(la) == len(lb)
    for ra, rb in zip(la, lb):
        assert ra == rb


def split_batches(changelog, n):
    """Deterministic seq-ordered micro-batches (replay order)."""
    ranked = changelog.withColumn("_b", F.ntile(n).over(
        __import__("pyspark.sql.window", fromlist=["Window"]).Window.orderBy("seq")))
    return [ranked.filter(F.col("_b") == i + 1).drop("_b") for i in range(n)]


def test_single_batch_matches_oracle(spark, tmp_path, changelog):
    vault = make_vault(spark, tmp_path)
    apply_batch(vault, changelog, epoch_id=0)
    assert_frames_equal(current_state(vault), oracle_state(changelog))


def test_multi_batch_replay_matches_oracle(spark, tmp_path, changelog):
    vault = make_vault(spark, tmp_path)
    for i, b in enumerate(split_batches(changelog, 5)):
        apply_batch(vault, b, epoch_id=i)
    assert_frames_equal(current_state(vault), oracle_state(changelog))


def test_reapply_is_idempotent(spark, tmp_path, changelog):
    vault = make_vault(spark, tmp_path)
    batches = split_batches(changelog, 3)
    for i, b in enumerate(batches):
        apply_batch(vault, b, epoch_id=i)
    counts1 = {
        t: vault.table(t).read().count()
        for t in ("hub_conversation", "hub_turn", "link_conversation_turn", "sat_turn_text")
    }
    apply_batch(vault, batches[1], epoch_id=99)  # replayed mid-stream batch
    counts2 = {t: vault.table(t).read().count() for t in counts1}
    assert counts1 == counts2
    assert_frames_equal(current_state(vault), oracle_state(changelog))


def test_out_of_order_batches_converge(spark, tmp_path, changelog):
    vault = make_vault(spark, tmp_path)
    batches = split_batches(changelog, 4)
    for b in [batches[2], batches[0], batches[3], batches[1]]:
        apply_batch(vault, b)
    assert_frames_equal(current_state(vault), oracle_state(changelog))


def full_history(vault):
    return vault.sat_all().select(
        "turn_hash_key", "hash_diff", "valid_from", "valid_to", "is_deleted",
        "src_seq",
    ).orderBy("turn_hash_key", "valid_from", "src_seq")


def test_out_of_order_batches_full_history_and_pit(spark, tmp_path, changelog):
    """Round-1 defect regression: a version arriving AFTER a newer one has
    been applied must be spliced into the SCD2 chain (not dropped), so the
    full history AND a past-as-of PIT equal the one-shot build."""
    from dvx.pit import build_pit

    pit_date = "2024-01-02"  # mid-stream: excludes part of the update tail

    vault = make_vault(spark, tmp_path)
    batches = split_batches(changelog, 5)
    for b in [batches[3], batches[1], batches[4], batches[0], batches[2]]:
        apply_batch(vault, b)
    build_pit(vault, pit_date)

    oracle_vault = Vault(spark, str(tmp_path / "wh_oracle"), num_buckets=4)
    oracle_vault.create_all_tables()
    apply_batch(oracle_vault, changelog)
    build_pit(oracle_vault, pit_date)

    assert_frames_equal(full_history(vault), full_history(oracle_vault))
    pit_cols = ["turn_hash_key", "conv_id", "turn_idx", "role", "text", "tool"]
    assert_frames_equal(
        vault.pit_turn.read(partitions=[pit_date]).select(*pit_cols).orderBy("turn_hash_key"),
        oracle_vault.pit_turn.read(partitions=[pit_date]).select(*pit_cols).orderBy("turn_hash_key"),
    )
    # SCD2 invariants hold after out-of-order splice
    sat = vault.sat_all()
    live = sat.filter(F.col("valid_to").isNull()).groupBy("turn_hash_key").count()
    assert live.filter("count > 1").count() == 0
    versions = sat.filter(F.col("valid_to").isNotNull())
    bad = versions.alias("v").join(
        sat.alias("s"),
        (F.col("v.turn_hash_key") == F.col("s.turn_hash_key"))
        & (F.col("v.valid_to") == F.col("s.valid_from")),
        "left_anti",
    )
    assert bad.count() == 0


def test_scd2_invariants(spark, tmp_path, changelog):
    vault = make_vault(spark, tmp_path)
    for i, b in enumerate(split_batches(changelog, 5)):
        apply_batch(vault, b, epoch_id=i)
    sat = vault.sat_all()
    # exactly one live version per key
    live = sat.filter(F.col("valid_to").isNull()).groupBy("turn_hash_key").count()
    assert live.filter("count > 1").count() == 0
    # every key has a live version
    assert (
        sat.select("turn_hash_key").distinct().count() == live.count()
    )
    # superseded versions end-date at the successor's valid_from
    versions = sat.filter(F.col("valid_to").isNotNull())
    bad = versions.alias("v").join(
        sat.alias("s"),
        (F.col("v.turn_hash_key") == F.col("s.turn_hash_key"))
        & (F.col("v.valid_to") == F.col("s.valid_from")),
        "left_anti",
    )
    assert bad.count() == 0
    # updated hot turns have >= 2 versions
    multi = sat.groupBy("turn_hash_key").count().filter("count >= 2")
    assert multi.count() > 0


def test_hub_uniqueness(spark, tmp_path, changelog):
    vault = make_vault(spark, tmp_path)
    for i, b in enumerate(split_batches(changelog, 3)):
        apply_batch(vault, b, epoch_id=i)
    n_convs = changelog.select("conv_id").distinct().count()
    assert vault.hub_conversation.read().count() == n_convs
    dup = vault.hub_conversation.read().groupBy("conv_hash_key").count().filter("count>1")
    assert dup.count() == 0
    n_turns = changelog.select("conv_id", "turn_idx").distinct().count()
    assert vault.hub_turn.read().count() == n_turns
    assert vault.link_conversation_turn.read().count() == n_turns


def test_delete_tombstones(spark, tmp_path, changelog):
    vault = make_vault(spark, tmp_path)
    apply_batch(vault, changelog)
    deleted_keys = (
        changelog.groupBy("conv_id", "turn_idx")
        .agg(F.max_by("op", F.struct("ts", "seq")).alias("last_op"))
        .filter("last_op = 'D'")
    )
    n_del = deleted_keys.count()
    assert n_del > 0
    live_del = vault.sat_turn_text.read().filter(
        F.col("valid_to").isNull() & (F.col("is_deleted") == "Y")
    )
    assert live_del.count() == n_del


def test_schema_evolution_mid_stream(spark, tmp_path, changelog):
    vault = make_vault(spark, tmp_path)
    b1, b2 = split_batches(changelog, 2)
    apply_batch(vault, b1, epoch_id=0)
    b2e = b2.withColumn("model", F.concat(F.lit("m-"), F.pmod(F.xxhash64("conv_id"), F.lit(3)).cast("string")))
    apply_batch(vault, b2e, epoch_id=1)
    sat = vault.sat_all()
    assert "model" in sat.columns
    # old rows null-fill, new rows carry the value
    assert sat.filter(F.col("model").isNotNull()).count() > 0
    assert sat.filter(F.col("model").isNull()).count() > 0
    # no history rewrite: still exactly one live row per key
    live = sat.filter(F.col("valid_to").isNull()).groupBy("turn_hash_key").count()
    assert live.filter("count > 1").count() == 0


def test_prepare_batch_dedups_and_hashes(spark, changelog):
    prepared = prepare_batch(changelog).persist()
    # exact redeliveries collapsed: unique (conv_id, turn_idx, ts, seq)
    assert (
        prepared.groupBy("conv_id", "turn_idx", "ts", "seq")
        .count().filter("count>1").count()
        == 0
    )
    # every key present; updated keys carry >1 version row
    assert (
        prepared.select("conv_id", "turn_idx").distinct().count()
        == changelog.select("conv_id", "turn_idx").distinct().count()
    )
    multi = prepared.groupBy("conv_id", "turn_idx").count().filter("count>1")
    assert multi.count() > 0
    # all hub/link keys + the satellite diff came out of the fused pass
    for c in ("conv_hash_key", "turn_hash_key", "link_hash_key",
              "hash_diff__sat_turn_text"):
        assert c in prepared.columns
        assert prepared.filter(F.col(c).rlike("^[0-9a-f]{32}$")).count() == prepared.count()
    prepared.unpersist()


def test_prepare_batch_resolves_ts_seq_ties_deterministically(spark):
    """Distinct-content rows sharing (conv_id, turn_idx, ts, seq) — an
    ingest-contract violation — resolve to the min attr struct, the same
    row every replay (ADVICE round 2: ties must not be order-dependent)."""
    rows = [
        (1, "U", "c1", 0, "user", "zzz later content", None, "2024-01-01 00:00:00"),
        (1, "U", "c1", 0, "user", "aaa earlier content", None, "2024-01-01 00:00:00"),
    ]
    df = spark.createDataFrame(
        rows,
        "seq long, op string, conv_id string, turn_idx int, role string, "
        "text string, tool string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = prepare_batch(df).collect()
    assert len(out) == 1
    assert out[0]["op"] == "U" and out[0]["text"] == "aaa earlier content"


def test_satellite_current_write_io_is_o_of_batch(spark, tmp_path, changelog):
    """A small follow-up batch must NOT rewrite the current table's base
    buckets — per-batch write IO is O(batch keys) (one data file and one
    tombstone file per touched bucket), not O(current table)."""
    vault = make_vault(spark, tmp_path)
    cut = changelog.selectExpr("percentile(cast(ts AS DOUBLE), 0.9) AS c").first()["c"]
    cut_ts = F.lit(cut).cast("double").cast("timestamp")
    apply_batch(vault, changelog.filter(F.col("ts") <= cut_ts), epoch_id=0)
    tbl = vault.sat_turn_text
    base_before = dict(tbl.snapshot()["files"])
    base_bytes = sum(s["bytes"] for s in tbl.file_stats())

    apply_batch(vault, changelog.filter(F.col("ts") > cut_ts), epoch_id=1)
    m = tbl.snapshot()
    # base files kept (no COW rewrite of unchanged rows)
    for k, ps in base_before.items():
        assert set(ps) <= set(m["files"][k])
    assert any(m["tombstones"].values())
    new_bytes = sum(
        os.path.getsize(os.path.join(tbl.root, p))
        for name in ("files", "tombstones")
        for k, ps in m[name].items()
        for p in ps
        if p not in base_before.get(k, [])
    )
    assert 0 < new_bytes < base_bytes  # wrote the batch, not the table
    # and the resolved read still matches the oracle
    assert_frames_equal(current_state(vault), oracle_state(changelog))


def test_satellite_on_a_second_parent_key(spark, tmp_path, changelog):
    """A satellite hanging off conv_hash_key takes its touched buckets
    from its own key's census: it ends with one current row per
    conversation, carrying the conversation's latest event."""
    from dvx.entities import DEFAULT_REGISTRY, SatelliteSpec

    reg = DEFAULT_REGISTRY.with_satellite(
        SatelliteSpec("sat_conv_role", "conv_hash_key", ("role",))
    )
    vault = Vault(spark, str(tmp_path / "wh_conv"), num_buckets=4, registry=reg)
    vault.create_all_tables()
    for i, b in enumerate(split_batches(changelog, 3)):
        apply_batch(vault, b, epoch_id=i)

    cur = vault.table("sat_conv_role").read().filter(F.col("valid_to").isNull())
    hub = vault.hub_conversation.read().select("conv_hash_key", "conv_id")
    got = cur.join(hub, "conv_hash_key").select("conv_id", "role", "is_deleted")
    last = changelog.groupBy("conv_id").agg(
        F.max_by(F.struct("role", "op"), F.struct("ts", "seq")).alias("r")
    )
    want = last.select(
        "conv_id", "r.role",
        F.when(F.col("r.op") == "D", F.lit("Y")).cast("string").alias("is_deleted"),
    )
    n_convs = changelog.select("conv_id").distinct().count()
    assert cur.count() == hub.count() == got.count() == n_convs
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    # the text satellite on turn_hash_key still matches its oracle
    assert_frames_equal(current_state(vault), oracle_state(changelog))


def test_second_satellite_added_purely_by_config(spark, tmp_path, changelog):
    """A role/tool-only satellite joins the vault via the registry — no
    ETL code changes. It versions on ITS OWN hash-diff: text-only edits
    create no meta version, so per-key meta versions == the chain
    collapse of (role, tool, is_deleted) and never exceed text versions."""
    from pyspark.sql.window import Window

    from dvx.entities import DEFAULT_REGISTRY, SAT_TURN_META
    from dvx.hashing import hash_expr

    reg = DEFAULT_REGISTRY.with_satellite(SAT_TURN_META)
    vault = Vault(spark, str(tmp_path / "wh_meta"), num_buckets=4, registry=reg)
    vault.create_all_tables()
    cut = changelog.selectExpr("percentile(cast(ts AS DOUBLE), 0.5) AS c").first()["c"]
    cut_ts = F.lit(cut).cast("double").cast("timestamp")
    apply_batch(vault, changelog.filter(F.col("ts") <= cut_ts), epoch_id=0)
    apply_batch(vault, changelog.filter(F.col("ts") > cut_ts), epoch_id=1)

    meta_counts = (
        vault.sat_all(sat="sat_turn_meta")
        .groupBy("turn_hash_key").agg(F.count("*").alias("n"))
    )
    hub = vault.hub_turn.read().select("turn_hash_key", "conv_id", "turn_idx")
    got = meta_counts.join(hub, "turn_hash_key").select("conv_id", "turn_idx", "n")

    # one-shot oracle: chain collapse of the meta diff over the deduped log
    w = Window.partitionBy("conv_id", "turn_idx").orderBy("ts", "seq")
    dedup = changelog.dropDuplicates().withColumn(
        "is_deleted", F.when(F.col("op") == "D", F.lit("Y")).cast("string")
    )
    chained = (
        dedup.withColumn("_d", hash_expr("role", "tool", "is_deleted"))
        .withColumn("_p", F.lag("_d").over(w))
        .filter(F.col("_p").isNull() | (F.col("_p") != F.col("_d")))
    )
    want = chained.groupBy("conv_id", "turn_idx").agg(F.count("*").alias("n"))
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0

    # meta never versions more than text (its diff covers fewer columns)
    text_counts = (
        vault.sat_all()
        .groupBy("turn_hash_key").agg(F.count("*").alias("nt"))
    )
    over = (
        meta_counts.join(text_counts, "turn_hash_key")
        .filter(F.col("n") > F.col("nt")).count()
    )
    assert over == 0

    # a TEXT-ONLY edit (role/tool unchanged) must version sat_turn_text
    # but NOT sat_turn_meta — the per-satellite chaining point
    live = vault.sat_turn_text.read().filter(
        F.col("valid_to").isNull() & F.col("is_deleted").isNull()
    )
    hub = vault.hub_turn.read().select("turn_hash_key", "conv_id", "turn_idx")
    sample = (
        live.join(hub, "turn_hash_key")
        .select("conv_id", "turn_idx", "role", "tool")
        .orderBy("conv_id", "turn_idx")
        .limit(3)
    )
    edits = sample.select(
        (F.lit(9 * 10**12) + F.monotonically_increasing_id()).alias("seq"),
        F.lit("U").alias("op"),
        "conv_id",
        "turn_idx",
        "role",
        F.lit("totally new text only").alias("text"),
        "tool",
        F.to_timestamp(F.lit("2030-01-01 00:00:00")).alias("ts"),
    )
    before_meta = vault.sat_all(sat="sat_turn_meta").count()
    before_text = vault.sat_all().count()
    apply_batch(vault, edits, epoch_id=2)
    assert vault.sat_all().count() == before_text + 3
    assert vault.sat_all(sat="sat_turn_meta").count() == before_meta


def test_straggler_rechains_only_its_key(spark, tmp_path):
    """Key-granular staleness: an out-of-order event for key A must not
    recompute or alter key B's history, even when both share a bucket
    (num_buckets=1 forces sharing)."""
    from dvx.schema import Vault as _V

    rows = [
        # key A: two in-order versions, then a straggler arriving last
        (1, "I", "cA", 0, "user", "a v1", None, "2024-01-01 00:00:00"),
        (2, "U", "cA", 0, "user", "a v3", None, "2024-01-03 00:00:00"),
        # key B: two in-order versions
        (3, "I", "cB", 0, "user", "b v1", None, "2024-01-01 00:00:00"),
        (4, "U", "cB", 0, "user", "b v2", None, "2024-01-02 00:00:00"),
    ]
    schema = (
        "seq long, op string, conv_id string, turn_idx int, role string, "
        "text string, tool string, ts string"
    )
    mk = lambda rs: spark.createDataFrame(rs, schema).withColumn(  # noqa: E731
        "ts", F.col("ts").cast("timestamp")
    )
    vault = _V(spark, str(tmp_path / "wh_straggler"), num_buckets=1)
    vault.create_all_tables()
    apply_batch(vault, mk(rows), epoch_id=0)
    hist_b_before = sorted(
        (str(r.valid_from), r.text)
        for r in vault.sat_all().filter("text LIKE 'b %'").collect()
    )

    straggler = [(5, "U", "cA", 0, "user", "a v2", None, "2024-01-02 00:00:00")]
    apply_batch(vault, mk(straggler), epoch_id=1)

    # key A: straggler spliced into the chain (3 versions, correct order)
    a_hist = (
        vault.sat_all().filter("text LIKE 'a %'")
        .orderBy("valid_from").collect()
    )
    assert [r.text for r in a_hist] == ["a v1", "a v2", "a v3"]
    assert [r.valid_to is None for r in a_hist] == [False, False, True]
    # key B: byte-identical history (passed through, not recomputed)
    hist_b_after = sorted(
        (str(r.valid_from), r.text)
        for r in vault.sat_all().filter("text LIKE 'b %'").collect()
    )
    assert hist_b_after == hist_b_before


@pytest.fixture(scope="module")
def oneshot_vault(spark, tmp_path_factory, changelog):
    """The whole changelog applied as ONE batch: the history oracle."""
    v = Vault(spark, str(tmp_path_factory.mktemp("oneshot") / "wh"), num_buckets=4)
    v.create_all_tables()
    apply_batch(v, changelog)
    return v


@pytest.mark.parametrize("stale", [False, True], ids=["in_order", "stale"])
def test_crash_between_history_and_current_commit_converges(
    spark, tmp_path, changelog, oneshot_vault, monkeypatch, stale
):
    """Crash after the satellite's history commit, before its current
    commit; re-running the same epoch converges to the one-shot
    state with no duplicated history version."""
    from dvx.lake import LakeTable
    from dvx.validate import validate_vault

    early, late = split_batches(changelog, 2)
    first, second = (late, early) if stale else (early, late)
    vault = make_vault(spark, tmp_path)
    apply_batch(vault, first, epoch_id=0)

    commit_staged = LakeTable.commit_staged
    armed = {"on": True}

    def crash_on_current(self, staged, op, summary=None, **kw):
        if self.root == vault.sat_turn_text.root and armed["on"]:
            armed["on"] = False
            raise RuntimeError("injected crash before the current commit")
        return commit_staged(self, staged, op, summary=summary, **kw)

    monkeypatch.setattr(LakeTable, "commit_staged", crash_on_current)
    with pytest.raises(RuntimeError, match="injected crash"):
        apply_batch(vault, second, epoch_id=1)
    hist = vault.sat_turn_text_hist
    assert hist.last_epoch("default") == 1
    assert vault.sat_turn_text.last_epoch("default") == 0
    # the history side landed as ONE commit of the expected shape
    assert hist.history()[-1]["operation"] == (
        "delete_insert" if stale else "append"
    )
    assert hist.history()[-2]["summary"]["epochs"]["default"] == 0

    apply_batch(vault, second, epoch_id=1)
    assert vault.sat_turn_text.last_epoch("default") == 1
    assert_frames_equal(current_state(vault), oracle_state(changelog))
    assert_frames_equal(full_history(vault), full_history(oneshot_vault))
    assert validate_vault(vault)["exit_code"] == 0
    dup = (
        vault.sat_all()
        .groupBy("turn_hash_key", "valid_from", "src_seq")
        .count()
        .filter("count > 1")
    )
    assert dup.count() == 0


def test_first_load_then_updates_deletes_and_a_stale_edit(
    spark, tmp_path, changelog, oneshot_vault
):
    """A first load plans every read of vault state as an empty relation;
    it must leave the same rows as the one-shot build once a second batch
    of updates, deletes and one stale edit lands on top of it."""
    from dvx.validate import validate_vault

    early, late = split_batches(changelog, 2)
    # swap one key's insert (first half) with its update (second half):
    # the insert then arrives after a newer stored version, i.e. stale
    keys = ["conv_id", "turn_idx"]
    updated = late.filter("op = 'U'").select(*keys)
    k = early.filter("op = 'I'").join(updated, keys, "left_semi").orderBy("seq").first()
    is_k = (F.col("conv_id") == k.conv_id) & (F.col("turn_idx") == k.turn_idx)
    its_update = is_k & (F.col("op") == "U")
    first = early.filter(~is_k).unionByName(late.filter(its_update))
    second = late.filter(~its_update).unionByName(early.filter(is_k))
    ops = {r.op for r in second.select("op").distinct().collect()}
    assert {"U", "D"} <= ops

    vault = make_vault(spark, tmp_path)
    apply_batch(vault, first, epoch_id=0)
    apply_batch(vault, second, epoch_id=1)

    # the stale edit re-chained its key's history in one delete_insert
    assert vault.sat_turn_text_hist.history()[-1]["operation"] == "delete_insert"
    assert_frames_equal(current_state(vault), oracle_state(changelog))
    assert_frames_equal(full_history(vault), full_history(oneshot_vault))
    assert validate_vault(vault)["exit_code"] == 0
