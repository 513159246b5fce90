"""Point-in-time (PIT) and bridge tables — the Business Vault layer.

Reference semantics (BusinessVaultETL.scala:119-207, PITBuilder.scala:
67-193; SURVEY.md §2.5 W1, §2.3 J3/J5/J6): one row per hub key per
snapshot date carrying the latest satellite version as of that date.

Three build paths:

- :func:`build_pit` — full build for one snapshot date: as-of filter (P3)
  -> latest-version pick (W1) -> hub join (J3), the one as-of pick
  :func:`latest_asof` that gold shares; idempotence guard (A6)
  skips dates already materialized; writes via dynamic partition
  overwrite so re-running a date is a clean replace.
- :func:`build_pit_incremental` — per-micro-batch variant (north_rule):
  only the keys touched by the batch are recomputed, for all of the
  batch's dates in one commit — O(batch), not O(table).
- :func:`build_pit_range` — date-spine cross join (J5) + interval as-of
  join (J6), the PITBuilder.buildSnapshotRange form.

Scale: the window runs per touched bucket (key-partitioned); the hub
side of J3 is broadcast when small. The PIT table is value-partitioned
by snapshot_date, so serving queries prune to one partition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dvx.schema import Vault

#: the satellite the PIT/bridge layer is built over (its parent key is
#: the PIT grain); apply_batch's pit_dates path resolves it by this name
PIT_SATELLITE = "sat_turn_text"

#: satellite columns a PIT row does not carry
_PIT_DROP = {"hash_diff", "is_deleted", "src_seq", "load_date", "record_source"}


def day_end(date: Column) -> Column:
    """The as-of boundary of a ``yyyy-MM-dd`` snapshot date: its last
    second."""
    return F.to_timestamp(F.concat(date, F.lit(" 23:59:59")))


def current_turn_text(vault: Vault) -> DataFrame:
    """The text satellite's current rows: open version, not a tombstone."""
    return vault.sat_turn_text.read().filter(
        F.col("valid_to").isNull() & F.col("is_deleted").isNull()
    )


def latest_asof(vault: Vault, sat: DataFrame, ts: Column) -> DataFrame:
    """hub_turn ⋈ each key's latest live version in ``sat`` as of ``ts``
    (P3 filter -> W1 pick -> J3 join)."""
    asof = sat.filter(F.col("valid_from") <= ts)  # P3
    # W1 as ONE map-side-combining aggregate: max over a struct ordered
    # (valid_from, src_seq, <remaining columns>) picks the same as-of
    # winner per key that the previous three-step pipeline (narrow top
    # agg -> shuffle_hash semi-join -> one-row-per-key guard agg) picked,
    # in a single exchange instead of three (guide §2.4: remove shuffles
    # outright; §2.3 aggregate before you shuffle). The partial aggregate
    # collapses to at most one row per key per map partition before the
    # shuffle, so full-width rows cross the wire once — the old shape
    # ALSO shuffled full width twice (the semi-join probe and the guard
    # agg), so this is strictly fewer bytes and two fewer exchanges.
    # The one-row-per-key invariant under anomalous duplicate-version
    # state is preserved (max is deterministic; ties on (valid_from,
    # src_seq) break on the remaining columns in order); tombstoned
    # winners drop out after the agg exactly as they dropped out after
    # the semi-join — a crash-window duplicate of a version shares its
    # is_deleted value, so filter placement cannot flip the outcome.
    others = [
        c for c in asof.columns
        if c not in ("turn_hash_key", "valid_from", "src_seq")
    ]
    _payload = F.struct(
        F.col("valid_from"), F.col("src_seq"), *[F.col(c) for c in others]
    )
    latest = (
        asof.groupBy("turn_hash_key")
        .agg(F.max(_payload).alias("_r"))
        .select(
            "turn_hash_key",
            *[F.col(f"_r.{c}").alias(c) for c in ["valid_from", "src_seq", *others]],
        )
        .filter(F.col("is_deleted").isNull())  # tombstoned keys drop out
    )
    hub = vault.hub_turn.read().select("turn_hash_key", "conv_id", "turn_idx")
    # J3 (hub is NOT broadcast: one row per turn at 10^10 scale — AQE
    # picks broadcast when it does fit)
    return latest.join(hub, "turn_hash_key")


def _pit_project(vault: Vault, frame: DataFrame) -> DataFrame:
    """Project an as-of frame (satellite + hub columns + snapshot_date)
    onto pit_turn's schema; a PIT column the frame does not carry is
    NULL."""
    return frame.select(
        *[
            F.col(c) if c in frame.columns and c not in _PIT_DROP
            else F.lit(None).alias(c)
            for c in (f.name for f in vault.pit_turn.schema().fields)
        ]
    )


def _pit_frame(vault: Vault, snapshot_date: str, sat: DataFrame) -> DataFrame:
    """hub ⋈ latest-sat-version-as-of-date, projected to the PIT schema."""
    date = F.lit(snapshot_date)
    return _pit_project(
        vault,
        latest_asof(vault, sat, day_end(date)).withColumn("snapshot_date", date),
    )


def build_pit(vault: Vault, snapshot_date: str, if_exists: str = "skip") -> int:
    """Full PIT build for one date.

    if_exists: 'skip' = idempotence guard (BusinessVaultETL.scala:177-183),
    'replace' = dynamic partition overwrite.
    """
    existing = vault.pit_turn.snapshot()["files"]
    if if_exists == "skip" and any(
        k.split("|", 1)[0] == snapshot_date for k in existing
    ):
        return 0
    frame = _pit_frame(vault, snapshot_date, vault.sat_all())
    vault.pit_turn.overwrite_partitions(frame)
    return 1


def build_pit_incremental(
    vault: Vault, dates: list[str], touched_keys: DataFrame,
    summary: dict | None = None,
) -> int:
    """Recompute PIT rows only for keys touched by a micro-batch, merging
    them into the existing partitions of every date in ``dates`` in ONE
    ``pit_turn`` commit (north_rule: 'PIT tables rebuilt incrementally
    per micro-batch'). Returns the number of dates maintained.

    Reads only the touched buckets of the satellite AND of the PIT
    (manifest pruning on the composite ``"<date>|<bucket>"`` key);
    writes only the touched (date, bucket) keys — both compute and
    write IO are O(touched buckets), never O(date partition). pit_turn
    and the satellite share the bucket function (same key column, same
    vault-wide bucket count), so one touched-bucket list serves both.
    ``summary`` rides on the commit (dvx.apply passes the epoch mark).
    """
    from functools import reduce

    from dvx.lake import _is_composite

    pit_tbl = vault.pit_turn
    keys = touched_keys.select("turn_hash_key").distinct()
    bucketed = vault.sat_turn_text.with_bucket(keys)
    touched_buckets = sorted(
        r[0] for r in bucketed.select("_bucket").distinct().collect()
    )
    if not touched_buckets:
        return 0
    # no forced broadcast of the key set: a backfill micro-batch can carry
    # millions of keys — plain joins let AQE pick broadcast when it fits
    sat = vault.sat_all(buckets=touched_buckets).join(
        keys, "turn_hash_key", "left_semi"
    )
    fresh = reduce(
        DataFrame.unionByName, [_pit_frame(vault, d, sat) for d in dates]
    )
    # untouched keys WITHIN the touched buckets carry over; untouched
    # buckets are never read or rewritten
    composite = _is_composite(pit_tbl.snapshot())
    old = pit_tbl.read(
        partitions=dates, buckets=touched_buckets if composite else None
    ).join(keys, "turn_hash_key", "left_anti")
    if composite:
        pit_tbl.replace_buckets(
            [f"{d}|{b}" for d in dates for b in touched_buckets],
            old.unionByName(fresh),
            summary=summary,
        )
    else:
        # LEGACY layout guard: a warehouse created before the composite
        # "<date>|<bucket>" layout has a plain date-partitioned pit_turn.
        # Bucket-half pruning there compares date strings to bucket ids
        # and matches ZERO manifest keys — `old` would come back empty and
        # replace_buckets would silently drop every untouched key's PIT
        # row for the dates. Fall back to the pre-composite full-date
        # dynamic partition overwrite (correct, O(date partitions) write).
        pit_tbl.overwrite_partitions(old.unionByName(fresh), summary=summary)
    return len(dates)


def build_pit_range(vault: Vault, start_date: str, end_date: str) -> int:
    """PITBuilder.buildSnapshotRange (PITBuilder.scala:143-193): date spine
    × hub cross join (J5), then interval as-of join (J6) against versions."""
    spine = vault.spark.sql(
        f"SELECT explode(sequence(to_date('{start_date}'), to_date('{end_date}'))) AS d"
    ).select(F.date_format("d", "yyyy-MM-dd").alias("snapshot_date"))
    hub = vault.hub_turn.read().select("turn_hash_key", "conv_id", "turn_idx")
    keys = hub.crossJoin(F.broadcast(spine))  # J5
    sat = vault.sat_all().filter(F.col("is_deleted").isNull())
    asof_end = day_end(F.col("snapshot_date"))
    joined = keys.join(  # J6: theta join, equi part on key + residual range filter
        sat,
        (keys.turn_hash_key == sat.turn_hash_key)
        & (sat.valid_from <= asof_end)
        & (sat.valid_to.isNull() | (sat.valid_to > asof_end)),
        "inner",
    ).drop(sat.turn_hash_key)
    vault.pit_turn.overwrite_partitions(_pit_project(vault, joined))
    return 1


def _bridge_frame(vault: Vault, link: DataFrame) -> DataFrame:
    """link ⋈ hub ⋈ hub ⋈ current-sat (J4) over the given link rows."""
    hub_c = vault.hub_conversation.read().select("conv_hash_key", "conv_id")
    hub_t = vault.hub_turn.read().select("turn_hash_key", "turn_idx")
    sat_cur = current_turn_text(vault).select("turn_hash_key", "role", "text", "tool")
    return (
        # hub_conversation is NOT force-broadcast: one row per conversation
        # is unbounded at 10^10 events — AQE broadcasts when it fits
        link.join(hub_c, "conv_hash_key")
        .join(hub_t, "turn_hash_key")
        .join(sat_cur, "turn_hash_key")
        .select(
            "link_hash_key", "conv_hash_key", "turn_hash_key",
            "conv_id", "turn_idx", "role", "text", "tool",
        )
    )


def build_bridge(vault: Vault) -> DataFrame:
    """Bridge frame: link ⋈ hub ⋈ hub ⋈ current-sat (BusinessVaultETL
    .scala:404-494, J4). :func:`refresh_bridge` materializes it into the
    ``bridge_conversation_turn`` lake table for serving."""
    return _bridge_frame(vault, vault.link_conversation_turn.read())


def refresh_bridge(vault: Vault, touched_conv_keys: DataFrame | None = None) -> int:
    """Materialize the bridge into ``bridge_conversation_turn``
    (reference full-refresh overwrite, BusinessVaultETL.scala:480-483) so
    BI serving pays ONE pre-joined scan instead of the 3-way join per
    query (the claimed 5-20x win, BusinessVaultSchema.scala:365-396).

    ``touched_conv_keys`` (a DataFrame of ``conv_hash_key``) switches to
    the incremental form: only the buckets holding touched conversations
    are recomputed and rewritten (COW) — write IO O(touched convs'
    bridge rows); the recompute prunes the join inputs with a semi-join
    on the touched keys. With no argument, every bucket is replaced (the
    reference's full refresh).
    """
    tbl = vault.table("bridge_conversation_turn")
    # refresh watermark (summary-recorded): the text satellite's snapshot
    # VERSION at refresh time. The CLI's --incremental mode derives
    # "touched since last refresh" from the data files the satellite
    # committed after this version (lake.files_added_since) — a
    # processing-order watermark. An event-time watermark (load_date)
    # would miss edits whose event ts is older than another key's
    # first-seen date (cross-key event-time skew).
    summary = {"refreshed_sat_version": vault.sat_turn_text.version()}
    if touched_conv_keys is None:
        frame = build_bridge(vault)
        touched = list(range(tbl.snapshot()["num_buckets"]))
        tbl.replace_buckets(touched, frame, summary=summary)
        return len(touched)
    keys = touched_conv_keys.select("conv_hash_key").distinct()
    bucketed = tbl.with_bucket(keys)
    touched = sorted(r[0] for r in bucketed.select("_bucket").distinct().collect())
    if not touched:
        return 0
    # recompute bridge rows for EVERY conversation in the touched buckets
    # (bucket contents are replaced wholesale): prune the link scan to
    # those conversations via a hashed semi-join, then join as usual
    convs = (
        tbl.with_bucket(vault.hub_conversation.read().select("conv_hash_key"))
        .filter(F.col("_bucket").isin(touched))
        .select("conv_hash_key")
    )
    link = vault.link_conversation_turn.read().join(
        convs.hint("shuffle_hash"), "conv_hash_key", "left_semi"
    )
    tbl.replace_buckets(touched, _bridge_frame(vault, link), summary=summary)
    return len(touched)
