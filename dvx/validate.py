"""Conformance validators — the reference's runnable data-quality checks
as reusable functions (BronzeValidator.scala:36-292, PITBuilder.scala:
289-332, SCDType2Handler.scala:339-377; SURVEY.md §5).

Each check returns (ok: bool, detail: str); :func:`validate_vault` runs
them all and returns an exit-code-style summary (0 ok / 1 failures),
mirroring the validator job's exit codes.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dvx.pit import day_end
from dvx.schema import Vault


def check_hub_hash_uniqueness(vault: Vault):
    for name, key in [
        ("hub_conversation", "conv_hash_key"),
        ("hub_turn", "turn_hash_key"),
        ("link_conversation_turn", "link_hash_key"),
    ]:
        dups = vault.table(name).read().groupBy(key).count().filter("count > 1").count()
        if dups:
            return False, f"{name}: {dups} duplicate {key}s"
    return True, "hub/link hash keys unique"


def check_hash_key_format(vault: Vault):
    """32-char lowercase hex (BronzeValidator hash-length check — with the
    reference's MD5-vs-SHA256 mismatch fixed to the intended MD5)."""
    bad = (
        vault.hub_turn.read()
        .filter(~F.col("turn_hash_key").rlike("^[0-9a-f]{32}$"))
        .count()
    )
    return (bad == 0), f"{bad} malformed hash keys"


def check_sat_single_current(vault: Vault):
    """Exactly one valid_to IS NULL row per key (SCD2 invariant).
    Single action: per-key live counts -> one global rollup."""
    row = (
        vault.sat_all()
        .groupBy("turn_hash_key")
        .agg(F.sum(F.when(F.col("valid_to").isNull(), 1).otherwise(0)).alias("live"))
        .agg(
            F.sum(F.when(F.col("live") > 1, 1).otherwise(0)).alias("multi"),
            F.sum(F.when(F.col("live") == 0, 1).otherwise(0)).alias("none"),
        )
        .first()
    )
    multi, none = int(row["multi"] or 0), int(row["none"] or 0)
    return (multi == 0 and none == 0), (
        f"{multi} keys with >1 live version; {none} keys with none"
    )


def check_sat_valid_from_not_null(vault: Vault):
    bad = vault.sat_all().filter(F.col("valid_from").isNull()).count()
    return (bad == 0), f"{bad} satellite rows with NULL valid_from"


def check_version_chain(vault: Vault):
    """Every end-dated version's valid_to equals a successor's valid_from."""
    sat = vault.sat_all()
    ended = sat.filter(F.col("valid_to").isNotNull()).alias("v")
    orphans = ended.join(
        sat.alias("s"),
        (F.col("v.turn_hash_key") == F.col("s.turn_hash_key"))
        & (F.col("v.valid_to") == F.col("s.valid_from")),
        "left_anti",
    ).count()
    return (orphans == 0), f"{orphans} end-dated versions without successor"


def check_link_referential_integrity(vault: Vault):
    """link -> hub FKs resolve (BronzeValidator LEFT ANTI JOIN check)."""
    link = vault.link_conversation_turn.read()
    o1 = link.join(
        vault.hub_conversation.read().select("conv_hash_key"), "conv_hash_key", "left_anti"
    ).count()
    o2 = link.join(
        vault.hub_turn.read().select("turn_hash_key"), "turn_hash_key", "left_anti"
    ).count()
    return (o1 == 0 and o2 == 0), f"{o1} conv + {o2} turn orphans in link"


def check_pit_integrity(vault: Vault, snapshot_date: str):
    """One row per (key, date); no NULL keys; valid_from <= snapshot end
    (PITBuilder.scala:289-332)."""
    pit = vault.pit_turn.read(partitions=[snapshot_date])
    dups = pit.groupBy("turn_hash_key").count().filter("count > 1").count()
    nulls = pit.filter(F.col("turn_hash_key").isNull()).count()
    late = pit.filter(F.col("valid_from") > day_end(F.lit(snapshot_date))).count()
    return (dups == 0 and nulls == 0 and late == 0), (
        f"pit[{snapshot_date}]: {dups} dups, {nulls} null keys, {late} future valid_from"
    )


def validate_vault(vault: Vault, pit_dates: list[str] | None = None) -> dict:
    checks = {
        "hub_hash_uniqueness": check_hub_hash_uniqueness(vault),
        "hash_key_format": check_hash_key_format(vault),
        "sat_single_current": check_sat_single_current(vault),
        "sat_valid_from_not_null": check_sat_valid_from_not_null(vault),
        "sat_version_chain": check_version_chain(vault),
        "link_referential_integrity": check_link_referential_integrity(vault),
    }
    for d in pit_dates or []:
        checks[f"pit_integrity_{d}"] = check_pit_integrity(vault, d)
    failed = {k: v for k, v in checks.items() if not v[0]}
    return {
        "exit_code": 1 if failed else 0,
        "checks": {k: {"ok": v[0], "detail": v[1]} for k, v in checks.items()},
    }
