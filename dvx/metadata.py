"""Load-metadata lineage + per-partition metrics.

Analog of the reference's LoadMetadata (LoadMetadata.scala:55-213;
table RawVaultSchema.scala:443-467), extended per the north_rule with
per-epoch, per-partition (bucket) metrics rows written at every
checkpoint. Append-only status rows (IN_PROGRESS/COMPLETED/FAILED/
SKIPPED) instead of the reference's row UPDATEs — append-only is the
scalable, conflict-free form.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dvx.schema import Vault


#: the entity name of the CDC stream's lineage rows
ENTITY = "transcript_changes"


def _now() -> dt.datetime:
    # lineage timestamps are audit-only; data-plane timestamps are always
    # event-derived (determinism rule, SURVEY.md §7.3)
    return dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)


# Status/lineage rows commit DRIVER-SIDE (lake.append_rows — one pyarrow
# file + manifest commit, zero Spark jobs): a Spark write job for O(16)
# ~100-byte rows is pure per-batch fixed floor (~0.5 s at 16 cores,
# BENCH.md round 5 floor), the kind a real deployment pays at every
# micro-batch checkpoint.


def start_load(vault: Vault, load_id: int, entity: str, stream_id: str | None = None) -> None:
    vault.load_metadata.append_rows(
        [dict(load_id=load_id, stream_id=stream_id, entity_name=entity,
              status="IN_PROGRESS", load_start_ts=_now())]
    )


def complete_load(
    vault: Vault,
    load_id: int,
    entity: str,
    records_extracted: int,
    records_loaded: int,
    stream_id: str | None = None,
    status: str = "COMPLETED",
    error: str | None = None,
) -> None:
    vault.load_metadata.append_rows(
        [dict(load_id=load_id, stream_id=stream_id, entity_name=entity,
              records_extracted=records_extracted, records_loaded=records_loaded,
              status=status, load_end_ts=_now(), error_message=error)]
    )


def log_epoch_lineage(
    vault: Vault,
    load_id: int,
    entity: str,
    bucket_counts: list[tuple[int, int]],
    records: int,
    stream_id: str | None = None,
    summary: dict | None = None,
) -> None:
    """Single append per epoch: one PARTITION_METRIC row per touched
    bucket + the COMPLETED summary row (north_rule: per-partition lineage
    + metrics at every checkpoint, without three separate tiny writes).
    ``summary`` rides on the commit (dvx.apply passes the epoch mark)."""
    now = _now()
    rows = [
        dict(load_id=load_id, stream_id=stream_id, entity_name=entity,
             partition_id=int(b), records_loaded=int(c),
             status="PARTITION_METRIC", load_end_ts=now)
        for b, c in sorted(bucket_counts)
    ]
    rows.append(
        dict(load_id=load_id, stream_id=stream_id, entity_name=entity,
             records_extracted=records, records_loaded=records,
             status="COMPLETED", load_end_ts=now)
    )
    vault.load_metadata.append_rows(rows, summary=summary)


def last_successful_load(vault: Vault, entity: str, stream_id: str | None = None):
    """Incremental watermark (LoadMetadata.getLastSuccessfulLoad,
    LoadMetadata.scala:223-240)."""
    df = vault.load_metadata.read().filter(
        (F.col("entity_name") == entity) & (F.col("status") == "COMPLETED")
    )
    if stream_id is not None:
        df = df.filter(F.col("stream_id") == stream_id)
    return df.agg(F.max("load_id").alias("load_id"), F.max("load_end_ts").alias("ts")).first()


def recent_loads(
    vault: Vault, n: int = 10, by: str = "load_end_ts", status: str | None = None
) -> DataFrame:
    """ORDER BY <by> DESC LIMIT n (LoadMetadata.scala:255-267),
    optionally restricted to one status row kind first. The default
    audit ordering is wall-clock; deterministic callers (the
    oracle-verified contract query) order by ``load_id``."""
    df = vault.load_metadata.read()
    if status is not None:
        df = df.filter(F.col("status") == status)
    return df.orderBy(F.desc_nulls_last(by), F.desc_nulls_last("load_end_ts")).limit(n)
