"""Additive schema evolution (the loyalty_tier scenario).

Reference behavior (SURVEY.md §1.3; AvroReader.scala:212-261,
RawVaultETL.scala:250-309; source-system/sql/03_add_loyalty_tier.sql):
new columns appearing in the change stream are added to the satellite
without rewriting history (old rows null-fill on read); the hash-diff
starts covering the new column from that point; missing canonical columns
fail fast; unexpected columns warn-and-continue.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql.types import StructField

from dvx.schema import CHANGELOG_SCHEMA, Vault, descriptive_cols

log = logging.getLogger(__name__)

_REQUIRED = [f.name for f in CHANGELOG_SCHEMA.fields]


def validate_batch(batch: DataFrame) -> list[str]:
    """Schema gate (S3): required envelope columns fail fast, extras are
    the additive-evolution signal (returned, warned)."""
    missing = [c for c in _REQUIRED if c not in batch.columns]
    if missing:
        raise ValueError(f"changelog batch missing required columns: {missing}")
    extras = descriptive_cols(batch.columns)
    if extras:
        log.warning("additive schema evolution detected: new columns %s", extras)
    return extras


def evolve_for_batch(vault: Vault, batch: DataFrame) -> list[str]:
    """ALTER TABLE ADD COLUMN on every dynamic-extras satellite (current
    + history) and pit_turn for every new descriptive column in the
    batch. Metadata-only; no data rewrite."""
    extras = validate_batch(batch)
    if not extras:
        return []
    batch_fields = {f.name: f for f in batch.schema.fields}
    tables = []
    for s in vault.registry.satellites:
        if s.dynamic_extras:
            tables += [vault.table(s.name), vault.table(s.hist_name)]
    tables.append(vault.pit_turn)
    for tbl in tables:
        existing = {f.name for f in tbl.schema().fields}
        new_fields = [
            StructField(c, batch_fields[c].dataType, True)
            for c in extras
            if c not in existing
        ]
        if new_fields:
            tbl.add_columns(new_fields)
    return extras
