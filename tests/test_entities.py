"""Entity registry: derived schemas must stay bit-compatible with the
canonical DDL constants (a registry regression would silently change
table layouts and break replays against existing warehouses)."""

from __future__ import annotations

import pytest

from dvx import schema as S
from dvx.entities import DEFAULT_REGISTRY, SAT_TURN_META, EntityRegistry


def test_derived_schemas_match_canonical_ddl():
    reg = DEFAULT_REGISTRY
    hubs = {h.name: h for h in reg.hubs}
    assert S.hub_schema(hubs["hub_conversation"]) == S.HUB_CONVERSATION
    assert S.hub_schema(hubs["hub_turn"]) == S.HUB_TURN
    assert S.link_schema(reg.links[0]) == S.LINK_CONVERSATION_TURN
    assert S.sat_schema(reg.satellites[0]) == S.SAT_TURN_TEXT


def test_registry_tables_cover_vault_surface():
    tables = S.registry_tables(DEFAULT_REGISTRY)
    assert set(tables) == {
        "hub_conversation", "hub_turn", "link_conversation_turn",
        "sat_turn_text", "sat_turn_text_hist",
        "pit_turn", "bridge_conversation_turn", "load_metadata",
    }
    # satellite current/history pairs share one schema
    assert tables["sat_turn_text"]["schema"] == tables["sat_turn_text_hist"]["schema"]


def test_with_satellite_is_pure_config():
    reg = DEFAULT_REGISTRY.with_satellite(SAT_TURN_META)
    assert DEFAULT_REGISTRY.satellites != reg.satellites  # original untouched
    names = reg.table_names()
    assert "sat_turn_meta" in names and "sat_turn_meta_hist" in names
    meta = S.sat_schema(SAT_TURN_META)
    cols = [f.name for f in meta.fields]
    assert cols[:3] == ["turn_hash_key", "role", "tool"]
    assert "text" not in cols


def test_version_grain_is_union_of_hub_keys():
    assert DEFAULT_REGISTRY.version_grain() == ("conv_id", "turn_idx")


def test_registry_without_satellites_is_rejected():
    with pytest.raises(ValueError, match="at least one satellite"):
        EntityRegistry(hubs=DEFAULT_REGISTRY.hubs, satellites=())
