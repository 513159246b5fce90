"""Streaming replay: exactly-once under injected restarts, checkpoint
resume, epoch dedup, lineage (SURVEY.md §5 items 3 & 5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dvx.changelog import synthetic_changelog
from dvx.schema import Vault
from dvx.stream import ingest_batch, run_stream, write_changelog_files
from tests.test_apply import assert_frames_equal, current_state, oracle_state


@pytest.fixture(scope="module")
def changelog(spark):
    return synthetic_changelog(spark, n_convs=30, hot_convs=2, hot_turns=40).persist()


def make_vault(spark, tmp_path):
    v = Vault(spark, str(tmp_path / "wh"), num_buckets=4)
    v.create_all_tables()
    return v


def test_stream_replay_matches_batch_oracle(spark, tmp_path, changelog):
    vault = make_vault(spark, tmp_path)
    cdir = str(tmp_path / "changelog")
    write_changelog_files(changelog, cdir, n_files=4)
    n = run_stream(vault, cdir, str(tmp_path / "ckpt"), log_lineage=False)
    assert n == 4
    assert_frames_equal(current_state(vault), oracle_state(changelog))


def test_restart_mid_replay_resumes_and_matches(spark, tmp_path, changelog):
    vault = make_vault(spark, tmp_path)
    cdir = str(tmp_path / "changelog")
    ckpt = str(tmp_path / "ckpt")
    write_changelog_files(changelog, cdir, n_files=5)
    # crash after 2 committed batches
    n1 = run_stream(vault, cdir, ckpt, fail_after_batches=2, log_lineage=True)
    assert n1 == 2
    # restart: resumes from checkpoint, replays nothing already committed
    run_stream(vault, cdir, ckpt, log_lineage=True)
    assert_frames_equal(current_state(vault), oracle_state(changelog))
    # lineage recorded per epoch
    meta = vault.load_metadata.read()
    assert meta.filter("status = 'COMPLETED'").count() >= 5
    assert meta.filter("status = 'PARTITION_METRIC'").count() > 0


def test_non_injected_failure_propagates(spark, tmp_path, changelog, monkeypatch):
    """fail_after_batches must swallow ONLY the injected crash: a real
    failure inside the batch handler still propagates (the restart
    harness cannot mask genuine bugs)."""
    import pytest

    import dvx.stream as stream_mod

    def boom(*a, **kw):
        raise RuntimeError("genuine batch failure")

    monkeypatch.setattr(stream_mod, "ingest_batch", boom)
    vault = make_vault(spark, tmp_path)
    cdir = str(tmp_path / "changelog")
    write_changelog_files(changelog.limit(100), cdir, n_files=2)
    with pytest.raises(Exception, match="genuine batch failure"):
        run_stream(
            vault, cdir, str(tmp_path / "ckpt"),
            fail_after_batches=1, log_lineage=False,
        )


def test_replayed_epoch_is_skipped(spark, tmp_path, changelog):
    vault = make_vault(spark, tmp_path)
    b = changelog.limit(200)
    r1 = ingest_batch(vault, b, epoch_id=0)
    assert not r1["skipped"]
    counts = vault.sat_all().count()
    r2 = ingest_batch(vault, b, epoch_id=0)  # exact redelivery
    assert r2["skipped"]
    assert vault.sat_all().count() == counts
    skipped = vault.load_metadata.read().filter("status = 'SKIPPED'")
    assert skipped.count() == 1


def test_incremental_pit_per_microbatch_equals_full_rebuild(spark, tmp_path, changelog):
    """north_star: PIT rebuilt incrementally per micro-batch must equal a
    one-shot full build over the final satellite state."""
    from dvx.pit import build_pit

    # mid-stream: inserts span Jan 1-2, updates +1 day, deletes +2 days,
    # so this date excludes part of the update/delete tail (real as-of)
    pit_date = "2024-01-02"
    vault = make_vault(spark, tmp_path)
    cdir = str(tmp_path / "changelog")
    write_changelog_files(changelog, cdir, n_files=3)
    run_stream(vault, cdir, str(tmp_path / "ckpt"), log_lineage=False,
               pit_dates=[pit_date])
    incremental = vault.pit_turn.read(partitions=[pit_date])

    oracle_vault = Vault(spark, str(tmp_path / "wh2"), num_buckets=4)
    oracle_vault.create_all_tables()
    ingest_batch(oracle_vault, changelog, epoch_id=0, log_lineage=False)
    build_pit(oracle_vault, pit_date)
    full = oracle_vault.pit_turn.read(partitions=[pit_date])

    cols = [c for c in incremental.columns]
    assert_frames_equal(
        incremental.select(*cols).orderBy("turn_hash_key"),
        full.select(*cols).orderBy("turn_hash_key"),
    )


def test_shuffled_file_order_matches_oracle_with_incremental_pit(
    spark, tmp_path, changelog
):
    """Adversarial replay order: stamp the changelog files' mtimes in
    REVERSED seq order so the streaming file source processes the newest
    changes first. The satellite's out-of-order re-chain must still
    converge to the one-shot state, including the per-micro-batch
    incremental PIT for a past as-of date (round-1 flaky-loss regression)."""
    import os

    from dvx.pit import build_pit

    pit_date = "2024-01-02"
    vault = make_vault(spark, tmp_path)
    cdir = str(tmp_path / "changelog")
    write_changelog_files(changelog, cdir, n_files=4)
    # reverse the deterministic mtime order: part-0003 (highest seqs) first
    parts = sorted(f for f in os.listdir(cdir) if f.endswith(".parquet"))
    base = os.path.getmtime(os.path.join(cdir, parts[0]))
    for i, fn in enumerate(reversed(parts)):
        os.utime(os.path.join(cdir, fn), (base + 2 * i, base + 2 * i))
    run_stream(vault, cdir, str(tmp_path / "ckpt"), log_lineage=False,
               pit_dates=[pit_date])
    assert_frames_equal(current_state(vault), oracle_state(changelog))

    oracle_vault = Vault(spark, str(tmp_path / "wh2"), num_buckets=4)
    oracle_vault.create_all_tables()
    ingest_batch(oracle_vault, changelog, epoch_id=0, log_lineage=False)
    build_pit(oracle_vault, pit_date)
    cols = ["turn_hash_key", "conv_id", "turn_idx", "role", "text", "tool"]
    assert_frames_equal(
        vault.pit_turn.read(partitions=[pit_date]).select(*cols).orderBy("turn_hash_key"),
        oracle_vault.pit_turn.read(partitions=[pit_date]).select(*cols).orderBy("turn_hash_key"),
    )


def test_epochs_recorded_in_snapshots(spark, tmp_path, changelog):
    vault = make_vault(spark, tmp_path)
    ingest_batch(vault, changelog.limit(100), epoch_id=7, log_lineage=False)
    for t in ("hub_conversation", "hub_turn", "link_conversation_turn", "sat_turn_text", "sat_turn_text_hist"):
        assert vault.table(t).last_epoch("default") == 7


def test_pit_crash_after_vault_commits_replays_the_pit(
    spark, tmp_path, changelog, monkeypatch
):
    """A crash inside the PIT maintenance, after the epoch's hub, link
    and satellite commits, must not let the replay skip the epoch: the
    replayed epoch rebuilds the PIT date, equal to a full build."""
    import dvx.pit as pit_mod

    pit_date = "2024-01-02"
    vault = make_vault(spark, tmp_path)
    real = pit_mod.build_pit_incremental
    calls = []

    def crash_once(*a, **kw):
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("injected crash before the PIT commit")
        return real(*a, **kw)

    monkeypatch.setattr(pit_mod, "build_pit_incremental", crash_once)
    with pytest.raises(RuntimeError, match="injected crash"):
        ingest_batch(vault, changelog, epoch_id=0, log_lineage=False,
                     pit_dates=[pit_date])
    assert vault.sat_turn_text.last_epoch("default") == 0  # vault committed
    replay = ingest_batch(vault, changelog, epoch_id=0, log_lineage=False,
                          pit_dates=[pit_date])
    assert not replay["skipped"]
    assert vault.pit_turn.last_epoch("default") == 0
    again = ingest_batch(vault, changelog, epoch_id=0, log_lineage=False,
                         pit_dates=[pit_date])
    assert again["skipped"]

    got = sorted(vault.pit_turn.read(partitions=[pit_date]).collect())
    pit_mod.build_pit(vault, pit_date, if_exists="replace")
    want = sorted(vault.pit_turn.read(partitions=[pit_date]).collect())
    assert got and got == want


def test_pit_registry_check_runs_before_any_commit(spark, tmp_path, changelog):
    """pit_dates on a registry without the PIT satellite fails before
    any table commits."""
    from dvx.entities import DEFAULT_REGISTRY, SAT_TURN_META, EntityRegistry

    reg = EntityRegistry(
        hubs=DEFAULT_REGISTRY.hubs, links=DEFAULT_REGISTRY.links,
        satellites=(SAT_TURN_META,),
    )
    vault = Vault(spark, str(tmp_path / "wh"), num_buckets=4, registry=reg)
    vault.create_all_tables()
    before = {t: vault.table(t).version() for t in vault.tables}
    with pytest.raises(ValueError, match="sat_turn_text"):
        ingest_batch(vault, changelog.limit(50), epoch_id=0,
                     log_lineage=False, pit_dates=["2024-01-02"])
    assert {t: vault.table(t).version() for t in vault.tables} == before


def test_failing_drain_fold_leaves_the_load_committed(
    spark, tmp_path, changelog, monkeypatch
):
    """The end-of-drain fold is best-effort: when it fails after every
    batch committed, run_stream still returns its batch count, the
    failure is recorded as a FAILED load_metadata row, and the vault
    stays valid and equal to the oracle."""
    from dvx.lake import LakeTable
    from dvx.validate import validate_vault

    real = LakeTable.compact_tombstones

    def fold_fails(self, min_files=1):
        if min_files > 1:  # the in-batch threshold fold still runs
            return real(self, min_files)
        raise RuntimeError("injected drain-fold failure")

    monkeypatch.setattr(LakeTable, "compact_tombstones", fold_fails)
    vault = make_vault(spark, tmp_path)
    cdir = str(tmp_path / "changelog")
    write_changelog_files(changelog, cdir, n_files=2)
    assert run_stream(vault, cdir, str(tmp_path / "ckpt")) == 2
    failed = vault.load_metadata.read().filter("status = 'FAILED'").collect()
    assert len(failed) == 1
    assert "injected drain-fold failure" in failed[0].error_message
    assert vault.load_metadata.read().filter("status = 'COMPLETED'").count() == 2
    assert_frames_equal(current_state(vault), oracle_state(changelog))
    assert validate_vault(vault)["exit_code"] == 0


#: an epoch's commits with ``pit_dates`` and lineage, in publish order
PUBLISH_ORDER = [
    "hub_conversation", "hub_turn", "link_conversation_turn",
    "sat_turn_text_hist", "sat_turn_text", "pit_turn", "load_metadata",
]
PIT_DATES = ["2024-01-02", "2024-01-03"]


def test_publish_order_is_the_skip_list():
    from dvx.apply import publish_order
    from dvx.entities import DEFAULT_REGISTRY

    assert publish_order(DEFAULT_REGISTRY, PIT_DATES, True) == PUBLISH_ORDER
    assert publish_order(DEFAULT_REGISTRY) == PUBLISH_ORDER[:5]


@pytest.fixture(scope="module")
def crash_setup(spark, tmp_path_factory, changelog):
    """The boundary tests' shared state: the changelog split in two
    batches, a warehouse holding the first as epoch 0, and the oracles
    (the whole changelog applied as one batch, and its full PIT
    build for each date)."""
    from dvx.pit import build_pit
    from tests.test_apply import full_history, split_batches

    early, late = split_batches(changelog, 2)
    base = tmp_path_factory.mktemp("epoch0") / "wh"
    v = Vault(spark, str(base), num_buckets=4)
    v.create_all_tables()
    ingest_batch(v, early, epoch_id=0, pit_dates=PIT_DATES)
    one = Vault(spark, str(tmp_path_factory.mktemp("oneshot") / "wh"), num_buckets=4)
    one.create_all_tables()
    ingest_batch(one, changelog, epoch_id=0, log_lineage=False)
    pits = {}
    for d in PIT_DATES:
        build_pit(one, d)
        pits[d] = one.pit_turn.read(partitions=[d]).orderBy("turn_hash_key").collect()
    return {
        "late": late, "base": str(base), "pits": pits,
        "history": full_history(one).collect(),
    }


@pytest.mark.parametrize("table", PUBLISH_ORDER)
def test_crash_at_every_commit_boundary_converges(
    spark, tmp_path, changelog, crash_setup, monkeypatch, table
):
    """A crash before any one of an epoch's commits leaves exactly the
    tables before it in the publish order committed, with no link row
    ahead of its hub rows; re-running the epoch publishes the rest and
    converges to the one-shot vault, its PIT dates and ONE lineage
    record, and a third delivery is skipped."""
    import shutil

    from dvx.lake import LakeTable
    from dvx.validate import check_link_referential_integrity, validate_vault
    from tests.test_apply import full_history

    shutil.copytree(crash_setup["base"], tmp_path / "wh")
    vault = make_vault(spark, tmp_path)
    late = crash_setup["late"]
    root = vault.table(table).root
    commit_staged = LakeTable.commit_staged
    armed = {"on": True}

    def crash_before(self, staged, op, summary=None, **kw):
        if self.root == root and armed["on"]:
            armed["on"] = False
            raise RuntimeError(f"injected crash before the {table} commit")
        return commit_staged(self, staged, op, summary=summary, **kw)

    monkeypatch.setattr(LakeTable, "commit_staged", crash_before)
    with pytest.raises(RuntimeError, match="injected crash"):
        ingest_batch(vault, late, epoch_id=1, pit_dates=PIT_DATES)
    at = PUBLISH_ORDER.index(table)
    assert [vault.table(t).last_epoch("default") for t in PUBLISH_ORDER] == (
        [1] * at + [0] * (len(PUBLISH_ORDER) - at)
    )
    assert check_link_referential_integrity(vault)[0]

    rerun = ingest_batch(vault, late, epoch_id=1, pit_dates=PIT_DATES)
    assert not rerun["skipped"]
    assert_frames_equal(current_state(vault), oracle_state(changelog))
    assert full_history(vault).collect() == crash_setup["history"]
    for d in PIT_DATES:
        got = vault.pit_turn.read(partitions=[d]).orderBy("turn_hash_key").collect()
        assert got == crash_setup["pits"][d]
    lineage = vault.load_metadata.read().filter("load_id = 1")
    assert lineage.filter("status = 'COMPLETED'").count() == 1
    assert lineage.filter("status = 'PARTITION_METRIC'").count() == len(
        rerun["bucket_counts"]
    )
    assert validate_vault(vault, pit_dates=PIT_DATES)["exit_code"] == 0
    assert ingest_batch(vault, late, epoch_id=1, pit_dates=PIT_DATES)["skipped"]
