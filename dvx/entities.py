"""Declarative entity registry — hubs, links, satellites as config.

The reference loads its five entities through one generic dispatch
(RawVaultETL.scala:85-92) but then copy-pastes the hub/sat load logic
per entity (RawVaultETL.scala:176-224, 243-367, 413-520, 700-800). This
module factors that into data: an :class:`EntityRegistry` declares the
vault's shape, and ``dvx.schema`` / ``dvx.apply`` derive table schemas,
fused hash computation, and merge plans from it. Adding a satellite (or
a hub/link) is a config change — no ETL code edits.

Key semantics (HashKeyGenerator.scala:136-149, 211-221):

- hub hash key   = md5(normalized business keys)
- link hash key  = md5(upper(parent hash) ~ upper(parent hash) ...)
- sat hash_diff  = md5(normalized attrs + is_deleted), chained per
  parent key in (ts, seq) order with consecutive-duplicate collapse —
  each satellite versions on its OWN diff, so a text edit creates a
  sat_turn_text version without touching a role/tool-only satellite.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace


@dataclass(frozen=True)
class HubSpec:
    """A business-key registry table."""

    name: str
    hash_key: str
    business_keys: tuple[str, ...]


@dataclass(frozen=True)
class LinkSpec:
    """A relationship table over hub hash keys."""

    name: str
    hash_key: str
    parents: tuple[str, ...]  # hub hash-key column names, in order


@dataclass(frozen=True)
class SatelliteSpec:
    """An SCD2 satellite (current + append-only history pair).

    ``dynamic_extras``: additive schema-evolution columns found in the
    change stream join this satellite's attrs (and its hash_diff) from
    the batch that introduces them.
    """

    name: str
    parent_key: str  # hash-key column of the hub this satellite hangs off
    attrs: tuple[str, ...]
    dynamic_extras: bool = False

    @property
    def hist_name(self) -> str:
        return self.name + "_hist"

    @property
    def diff_col(self) -> str:
        """Column name of this satellite's hash-diff in a prepared batch."""
        return "hash_diff__" + self.name


@dataclass(frozen=True)
class EntityRegistry:
    hubs: tuple[HubSpec, ...]
    links: tuple[LinkSpec, ...] = field(default_factory=tuple)
    satellites: tuple[SatelliteSpec, ...] = field(default_factory=tuple)

    def __post_init__(self) -> None:
        # the ingest apply takes every batch's touched buckets and its
        # lineage counts from the satellites' per-bucket census
        if not self.satellites:
            raise ValueError("an EntityRegistry needs at least one satellite")

    def with_satellite(self, sat: SatelliteSpec) -> "EntityRegistry":
        """A new registry with one more satellite — the config-only way
        to widen the vault."""
        return replace(self, satellites=(*self.satellites, sat))

    def table_names(self) -> list[str]:
        """Every vault table this registry materializes, in the order an
        epoch publishes them (dvx.apply.publish_order): hubs, links, then
        each satellite's history before its current table."""
        out = [h.name for h in self.hubs] + [l.name for l in self.links]
        for s in self.satellites:
            out += [s.hist_name, s.name]
        return out

    def version_grain(self) -> tuple[str, ...]:
        """The finest business-key grain (identity of one change event's
        subject) — the union of all hub business keys, used for
        repartitioning and exact-redelivery dedup."""
        seen: list[str] = []
        for h in self.hubs:
            for k in h.business_keys:
                if k not in seen:
                    seen.append(k)
        return tuple(seen)


#: The transcript-domain default: conversation/turn hubs, their link, and
#: the text satellite (the flagship CDC pipeline). Tests and the
#: `cdc_sat_meta_versions` contract query extend this with a second
#: satellite purely via :meth:`EntityRegistry.with_satellite`.
DEFAULT_REGISTRY = EntityRegistry(
    hubs=(
        HubSpec("hub_conversation", "conv_hash_key", ("conv_id",)),
        HubSpec("hub_turn", "turn_hash_key", ("conv_id", "turn_idx")),
    ),
    links=(
        LinkSpec(
            "link_conversation_turn", "link_hash_key",
            ("conv_hash_key", "turn_hash_key"),
        ),
    ),
    satellites=(
        SatelliteSpec(
            "sat_turn_text", "turn_hash_key", ("role", "text", "tool"),
            dynamic_extras=True,
        ),
    ),
)

#: A role/tool-only metadata satellite — the config-only second
#: satellite. A text edit that leaves role/tool unchanged creates NO
#: version here (per-satellite hash-diff chaining).
SAT_TURN_META = SatelliteSpec("sat_turn_meta", "turn_hash_key", ("role", "tool"))
