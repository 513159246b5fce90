"""Canonical vault table schemas + idempotent creation.

Transcript-domain analog of the reference's RawVaultSchema /
BusinessVaultSchema DDL (RawVaultSchema.scala:41-467,
BusinessVaultSchema.scala:112-194):

- ``hub_conversation``      business-key registry for conversations
- ``hub_turn``              composite-key registry for turns (analog of
                            hub_transaction_item, RawVaultSchema.scala:192-210)
- ``link_conversation_turn`` conversation<->turn relationship
- ``sat_turn_text``         SCD2 satellite with hash-diff change detection
- ``pit_turn``              point-in-time snapshots (BusinessVaultSchema)
- ``load_metadata``         lineage/audit (RawVaultSchema.scala:443-467)

Vault tables are hash-bucketed on their merge key so CDC MERGEs prune to
touched buckets; pit_turn is value-partitioned by snapshot_date AND
bucketed by turn_hash_key (the reference partitions by load_date /
snapshot_date; the bucket half keeps incremental PIT rewrites
O(touched buckets)). Timestamps are event-
derived, never wall clock, so replays byte-match (SURVEY.md §7.3).
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from dvx.lake import LakeTable

log = logging.getLogger(__name__)

RECORD_SOURCE = "transcripts.changelog"

# Changelog envelope (FIXTURES.md F2) — the engine's input contract.
CHANGELOG_SCHEMA = StructType(
    [
        StructField("seq", LongType(), False),
        StructField("op", StringType(), False),  # I / U / D
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("role", StringType(), True),
        StructField("text", StringType(), True),
        StructField("tool", StringType(), True),
        StructField("ts", TimestampType(), False),
    ]
)


def descriptive_cols(columns: list[str], known: StructType = CHANGELOG_SCHEMA) -> list[str]:
    """The additive-evolution extras among ``columns``: names outside
    ``known`` (default: the changelog envelope) that are not
    ``_``-prefixed lineage columns (the reference's intersection
    pattern, RawVaultETL.scala:250-309)."""
    names = set(known.fieldNames())
    return sorted(c for c in columns if c not in names and not c.startswith("_"))


HUB_CONVERSATION = StructType(
    [
        StructField("conv_hash_key", StringType(), False),
        StructField("conv_id", StringType(), False),
        StructField("load_date", StringType(), False),  # derived from event ts
        StructField("record_source", StringType(), False),
    ]
)

HUB_TURN = StructType(
    [
        StructField("turn_hash_key", StringType(), False),
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("load_date", StringType(), False),
        StructField("record_source", StringType(), False),
    ]
)

LINK_CONVERSATION_TURN = StructType(
    [
        StructField("link_hash_key", StringType(), False),
        StructField("conv_hash_key", StringType(), False),
        StructField("turn_hash_key", StringType(), False),
        StructField("load_date", StringType(), False),
        StructField("record_source", StringType(), False),
    ]
)

# SCD2 satellite: exactly one valid_to IS NULL row per key; versions
# ordered by event ts (RawVaultSchema.scala:279-311, proper end-dating).
SAT_TURN_TEXT = StructType(
    [
        StructField("turn_hash_key", StringType(), False),
        StructField("role", StringType(), True),
        StructField("text", StringType(), True),
        StructField("tool", StringType(), True),
        StructField("hash_diff", StringType(), False),
        StructField("valid_from", TimestampType(), False),
        StructField("valid_to", TimestampType(), True),
        StructField("is_deleted", StringType(), True),  # 'Y' tombstone else NULL
        StructField("src_seq", LongType(), False),  # change seq (cross-batch LWW tie-break)
        StructField("load_date", StringType(), False),
        StructField("record_source", StringType(), False),
    ]
)

PIT_TURN = StructType(
    [
        StructField("turn_hash_key", StringType(), False),
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("snapshot_date", StringType(), False),
        StructField("role", StringType(), True),
        StructField("text", StringType(), True),
        StructField("tool", StringType(), True),
        StructField("valid_from", TimestampType(), True),
        StructField("valid_to", TimestampType(), True),
    ]
)

# Materialized bridge (BusinessVaultETL.scala:404-494 full refresh;
# BusinessVaultSchema.scala:365-396 rationale): the pre-joined
# link ⋈ hub ⋈ hub ⋈ current-sat serving table. Bucketed by
# conv_hash_key so (a) a conversation's rows are colocated for the
# GROUP BY conv_id serving queries and (b) an incremental refresh can
# rewrite only touched conversations' buckets.
BRIDGE_CONVERSATION_TURN = StructType(
    [
        StructField("link_hash_key", StringType(), False),
        StructField("conv_hash_key", StringType(), False),
        StructField("turn_hash_key", StringType(), False),
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("role", StringType(), True),
        StructField("text", StringType(), True),
        StructField("tool", StringType(), True),
    ]
)

LOAD_METADATA = StructType(
    [
        StructField("load_id", LongType(), False),  # epoch id for streaming loads
        StructField("stream_id", StringType(), True),
        StructField("entity_name", StringType(), False),
        StructField("partition_id", IntegerType(), True),  # bucket / partition
        StructField("records_extracted", LongType(), True),
        StructField("records_loaded", LongType(), True),
        StructField("status", StringType(), False),  # IN_PROGRESS/COMPLETED/FAILED/SKIPPED
        StructField("load_start_ts", TimestampType(), True),
        StructField("load_end_ts", TimestampType(), True),
        StructField("error_message", StringType(), True),
    ]
)

#: column types resolvable from the changelog envelope; registry columns
#: not in the envelope (shouldn't happen for the default) fall back to
#: string
_ENVELOPE_TYPES = {f.name: f.dataType for f in CHANGELOG_SCHEMA.fields}

#: metadata tail shared by every satellite schema
_SAT_META_FIELDS = [
    StructField("hash_diff", StringType(), False),
    StructField("valid_from", TimestampType(), False),
    StructField("valid_to", TimestampType(), True),
    StructField("is_deleted", StringType(), True),  # 'Y' tombstone else NULL
    StructField("src_seq", LongType(), False),  # change seq (cross-batch LWW tie-break)
    StructField("load_date", StringType(), False),
    StructField("record_source", StringType(), False),
]

_AUDIT_FIELDS = [
    StructField("load_date", StringType(), False),
    StructField("record_source", StringType(), False),
]


def _typ(col: str):
    return _ENVELOPE_TYPES.get(col, StringType())


def hub_schema(spec) -> StructType:
    return StructType(
        [StructField(spec.hash_key, StringType(), False)]
        + [StructField(k, _typ(k), False) for k in spec.business_keys]
        + _AUDIT_FIELDS
    )


def link_schema(spec) -> StructType:
    return StructType(
        [StructField(spec.hash_key, StringType(), False)]
        + [StructField(p, StringType(), False) for p in spec.parents]
        + _AUDIT_FIELDS
    )


def sat_schema(spec) -> StructType:
    return StructType(
        [StructField(spec.parent_key, StringType(), False)]
        + [StructField(a, _typ(a), True) for a in spec.attrs]
        + _SAT_META_FIELDS
    )


def registry_tables(registry) -> dict[str, dict]:
    """{table name: create spec} for an entity registry plus the fixed
    business-vault/lineage tables. Satellites split into a bounded
    CURRENT table (one row per key, incl. tombstones — the only
    satellite data upserts touch) and an append-only HISTORY table
    (end-dated versions, never rewritten); full history = their union
    (Vault.sat_all)."""
    out: dict[str, dict] = {}
    # key_bloom: hubs/links are append-only key tables whose insert is an
    # existence proof — per-bucket bloom segments (dvx.bloom) let the
    # anti-join skip reading buckets that cannot contain any batch key,
    # turning existing-key read IO from O(live keys)/batch toward
    # O(possibly-present buckets)
    for h in registry.hubs:
        out[h.name] = dict(
            schema=hub_schema(h), bucket_cols=[h.hash_key],
            properties={"key_bloom": True},
        )
    for l in registry.links:
        out[l.name] = dict(
            schema=link_schema(l), bucket_cols=[l.hash_key],
            properties={"key_bloom": True},
        )
    for s in registry.satellites:
        out[s.name] = dict(schema=sat_schema(s), bucket_cols=[s.parent_key])
        out[s.hist_name] = dict(schema=sat_schema(s), bucket_cols=[s.parent_key])
    # composite layout (value partition + hash buckets): serving queries
    # prune to one snapshot_date; the per-micro-batch incremental PIT
    # rewrite prunes to the touched turn_hash_key buckets WITHIN the date
    # (write IO O(touched buckets), not O(date partition)) — the analog
    # of Iceberg PARTITIONED BY (snapshot_date, bucket(N, turn_hash_key))
    out["pit_turn"] = dict(
        schema=PIT_TURN,
        partition_col="snapshot_date",
        bucket_cols=["turn_hash_key"],
    )
    out["bridge_conversation_turn"] = dict(
        schema=BRIDGE_CONVERSATION_TURN, bucket_cols=["conv_hash_key"]
    )
    out["load_metadata"] = dict(schema=LOAD_METADATA)
    return out


class Vault:
    """One warehouse directory holding all vault tables.

    ``num_buckets`` sizes the merge parallelism: local tests use 8-16;
    at 10^10 events use e.g. 4096 so each bucket holds ~2.5M keys.
    ``registry`` declares the entity shape (dvx.entities); the default
    is the transcript-domain conversation/turn/text-satellite trio.
    """

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        num_buckets: int = 16,
        registry=None,
    ):
        from dvx.entities import DEFAULT_REGISTRY

        self.spark = spark
        self.warehouse = warehouse
        self.num_buckets = num_buckets
        self.registry = registry or DEFAULT_REGISTRY
        self.tables = registry_tables(self.registry)

    def path(self, name: str) -> str:
        return os.path.join(self.warehouse, name)

    def create_all_tables(self) -> None:
        """Idempotent CREATE-IF-NOT-EXISTS for the whole vault
        (RawVaultSchema.createAllTables pattern). Also warms the engine
        (dvx.session.warm_start, once per session): vault creation is
        the natural pre-ingest setup point, so the first micro-batch
        does not pay Python-worker fork + codegen cold-start. The
        warm-up is best-effort: its failure is logged, never raised."""
        from dvx.session import warm_start

        try:
            warm_start(self.spark)
        except Exception as e:
            log.warning("warm_start failed, continuing without warm-up: %r", e)
        for name, spec in self.tables.items():
            kwargs: dict = {}
            if "bucket_cols" in spec:
                kwargs["num_buckets"] = self.num_buckets
                kwargs["bucket_cols"] = spec["bucket_cols"]
            if "partition_col" in spec:
                kwargs["partition_col"] = spec["partition_col"]
            if "properties" in spec:
                kwargs["properties"] = spec["properties"]
            LakeTable.create(self.spark, self.path(name), spec["schema"], **kwargs)

    def table(self, name: str) -> LakeTable:
        return LakeTable(self.spark, self.path(name))

    def sat_all(self, buckets: list[int] | None = None, sat: str = "sat_turn_text"):
        """Full satellite history: current ∪ archived versions."""
        cur = self.table(sat).read(buckets=buckets)
        hist = self.table(sat + "_hist").read(buckets=buckets)
        return cur.unionByName(hist)

    def __getattr__(self, name: str) -> LakeTable:
        if name in self.__dict__.get("tables", {}):
            return self.table(name)
        raise AttributeError(name)
