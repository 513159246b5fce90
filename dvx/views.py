"""Semantic view layer — the reference's SemanticModel analog
(SemanticModel.scala:107-555; SURVEY.md §3.3): logical views over the
vault that BI queries hit; Catalyst expands them and pushes predicates
into the lake scans.

Each view is ONE SQL definition (:data:`_VIEWS`), written over
placeholders for its sources: the five mirrored lake tables, plus
``v_current_turns`` for the views built on it. Two registration
surfaces bind those sources and run the same SQL:

- :func:`create_all_views` — session TEMP views over this session's
  lake reads (manifest-pruned, tombstone-aware; always correct, even
  mid-stream), bound under private ``_dvx_src_*`` temp-view names. Die
  with the session.
- :func:`publish_views` — PERSISTENT catalog views (``CREATE OR REPLACE
  VIEW`` into the hive-backed metastore, the reference's ``CREATE OR
  REPLACE VIEW gold.v_*``): survives session restarts, so a BI tool
  reconnecting sees the semantic layer without running dvx code. The
  sources are external parquet tables over each lake table's
  published serving mirror (lake.publish_mirror); re-publishing after a
  load retargets the mirror + refreshes the tables. Requires pending
  tombstones folded (publish folds them).

At 10^10 scale the expensive ones (conversation_360) are served from the
PIT/bridge pre-joins instead of re-deriving (the reference's 5-20x PIT
rationale, BusinessVaultSchema.scala:365-396).
"""

from __future__ import annotations

import hashlib
import os

from dvx.schema import Vault

#: lake tables the semantic views select from (publish_views mirrors
#: exactly these into the catalog)
_MIRRORED = (
    "sat_turn_text",
    "sat_turn_text_hist",
    "hub_turn",
    "hub_conversation",
    "bridge_conversation_turn",
)

#: prefix of the private temp views create_all_views binds lake reads to
#: (a user's own temp view named like a vault table stays untouched)
_SRC_PREFIX = "_dvx_src_"

#: the semantic layer: view name -> SELECT over its source placeholders
#: (``{versions}`` is the satellite's full history, current ∪ archived)
_VIEWS = {
    "v_current_turns": """
        SELECT s.*, h.conv_id, h.turn_idx
        FROM ({versions}) s
        JOIN {hub_turn} h ON s.turn_hash_key = h.turn_hash_key
        WHERE s.valid_to IS NULL AND s.is_deleted IS NULL""",
    "v_conversation_summary": """
        SELECT conv_id, count(*) AS n_turns,
               count(DISTINCT role) AS n_roles,
               sum(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END) AS n_tool_turns,
               max(turn_idx) AS max_turn_idx
        FROM {v_current_turns} GROUP BY conv_id""",
    "v_tool_usage": """
        SELECT tool, count(*) AS n_turns,
               count(DISTINCT conv_id) AS n_convs
        FROM {v_current_turns} WHERE tool IS NOT NULL GROUP BY tool""",
    "v_turn_churn": """
        SELECT s.turn_hash_key, s.n_versions, s.first_seen, s.last_changed,
               h.conv_id, h.turn_idx
        FROM (SELECT turn_hash_key, count(*) AS n_versions,
                     date_format(min(valid_from), 'yyyy-MM-dd') AS first_seen,
                     date_format(max(valid_from), 'yyyy-MM-dd') AS last_changed
              FROM ({versions}) GROUP BY turn_hash_key) s
        JOIN {hub_turn} h ON s.turn_hash_key = h.turn_hash_key""",
    # conversation_360: the reference's headline PIT-rationale view
    # (BusinessVaultSchema.scala:365-396, SemanticModel.scala:138-218) —
    # served from the MATERIALIZED bridge (dvx.pit.refresh_bridge), so a
    # BI hit pays one pre-joined, conversation-colocated scan + one agg
    # instead of the 3-way join per query (the claimed 5-20× win)
    "v_conversation_360": """
        SELECT conv_id, count(*) AS n_turns,
               count(DISTINCT role) AS n_roles,
               sum(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END) AS n_tool_turns,
               cast(sum(length(text)) AS BIGINT) AS total_chars,
               max_by(role, turn_idx) AS last_role,
               max(turn_idx) AS max_turn_idx
        FROM {bridge_conversation_turn} GROUP BY conv_id""",
    # monthly activity trend (SemanticModel.scala:219-284 analog)
    "v_monthly_activity": """
        SELECT year(valid_from) AS year, month(valid_from) AS month,
               count(*) AS n_turns, count(DISTINCT conv_id) AS n_convs,
               sum(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END) AS n_tool_turns,
               cast(sum(length(text)) AS BIGINT) AS total_chars
        FROM {v_current_turns} GROUP BY year(valid_from), month(valid_from)""",
    # top-k serving view WITH an ORDER BY (O3/O4: the reference's display
    # views carry sorts, SemanticModel.scala ORDER BY clauses)
    "v_top_tools": """
        SELECT tool, count(*) AS n_turns
        FROM {v_current_turns} WHERE tool IS NOT NULL
        GROUP BY tool ORDER BY n_turns DESC, tool LIMIT 5""",
    "v_hub_conversation": "SELECT * FROM {hub_conversation}",
}


def _view_sql(vault: Vault, src: dict[str, str]) -> dict[str, str]:
    """Every view's SELECT with its sources bound: ``src`` maps each
    mirrored table and ``v_current_turns`` to the relation serving it."""
    cols = ", ".join(f"`{f.name}`" for f in vault.sat_turn_text.schema().fields)
    versions = (
        f"SELECT {cols} FROM {src['sat_turn_text']} "
        f"UNION ALL SELECT {cols} FROM {src['sat_turn_text_hist']}"
    )
    return {
        name: sql.format(versions=versions, **src) for name, sql in _VIEWS.items()
    }


def _bridge_refreshed(vault: Vault) -> bool:
    """Has :func:`dvx.pit.refresh_bridge` ever materialized the bridge?"""
    from dvx.lake import LakeTable

    tbl = vault.table("bridge_conversation_turn")
    if not LakeTable.exists(tbl.root):
        return False
    return bool(tbl.snapshot()["files"])


def create_all_views(vault: Vault) -> list[str]:
    """CREATE OR REPLACE TEMP VIEW v_* over this session's lake reads.

    A bridge that was never refreshed binds to the derived
    :func:`dvx.pit.build_bridge` frame instead; serving freshness
    otherwise follows the refresh cadence, like the reference's."""
    refreshed = _bridge_refreshed(vault)
    src = {"v_current_turns": "v_current_turns"}
    for name in _MIRRORED:
        if name == "bridge_conversation_turn" and not refreshed:
            from dvx.pit import build_bridge

            df = build_bridge(vault)
        else:
            df = vault.table(name).read()
        src[name] = _SRC_PREFIX + name
        df.createOrReplaceTempView(src[name])
    for vname, sql in _view_sql(vault, src).items():
        vault.spark.sql(f"CREATE OR REPLACE TEMP VIEW {vname} AS {sql}")
    return list(_VIEWS)


def catalog_db(vault: Vault) -> str:
    """Per-vault catalog database name (one metastore can host many
    vaults without collision)."""
    h = hashlib.md5(os.path.abspath(vault.warehouse).encode()).hexdigest()[:10]
    return f"dvx_{h}"


def publish_views(vault: Vault) -> dict:
    """Publish the semantic layer as PERSISTENT catalog objects.

    1. folds each mirrored table's pending tombstones (serving refresh
       implies compaction, same rationale as the end-of-drain fold),
    2. hardlink-mirrors each vault table's current snapshot into
       ``<warehouse>/_serving/<table>`` (lake.publish_mirror),
    3. issues ``CREATE TABLE ... USING PARQUET LOCATION`` externals with
       the table's EXPLICIT schema (old files null-fill evolved columns)
       and ``CREATE OR REPLACE VIEW`` DDL into the hive metastore —
       objects that survive a brand-new SparkSession
       (SemanticModel.scala:107-555 semantics).

    Idempotent; re-run after loads to retarget the mirror. Returns
    {"database": ..., "views": [...], "tables": [...]}.
    """
    spark = vault.spark
    if spark.conf.get("spark.sql.catalogImplementation", "in-memory") != "hive":
        raise RuntimeError(
            "publish_views needs the hive-backed catalog "
            "(dvx.session.get_spark default; DVX_CATALOG=memory disables it)"
        )
    db = catalog_db(vault)

    # v_conversation_360 selects from the materialized bridge, and a
    # catalog view cannot derive it like the session temp view does:
    # publishing implies serving freshness, so materialize it now
    if not _bridge_refreshed(vault):
        from dvx.pit import refresh_bridge

        refresh_bridge(vault)

    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    tables = []
    for name in _MIRRORED:
        tbl = vault.table(name)
        dest = os.path.join(vault.warehouse, "_serving", name)
        tbl.compact_tombstones()
        tbl.publish_mirror(dest)
        schema = tbl.schema()
        ddl_cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
        )
        fq = f"{db}.{name}"
        existing = [t.name for t in spark.catalog.listTables(db)]
        if name in existing:
            cat_schema = spark.table(fq).schema
            if [(f.name, f.dataType) for f in cat_schema.fields] != [
                (f.name, f.dataType) for f in schema.fields
            ]:
                spark.sql(f"DROP TABLE {fq}")  # additive evolution: recreate
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {fq} ({ddl_cols}) "
            f"USING PARQUET LOCATION '{dest}'"
        )
        spark.sql(f"REFRESH TABLE {fq}")
        # feed row/size stats to the cost-based optimizer: BI SQL over
        # the published views joins these catalog tables, and with stats
        # present the session's cbo.enabled/joinReorder flags actually
        # reorder (path-based lake reads have no catalog stats, so CBO
        # is inert there by design — AQE covers those; SURVEY §4 row 2)
        spark.sql(f"ANALYZE TABLE {fq} COMPUTE STATISTICS")
        tables.append(name)

    views = _view_sql(
        vault, {n: f"{db}.{n}" for n in (*_MIRRORED, "v_current_turns")}
    )
    for vname, sql in views.items():
        spark.sql(f"CREATE OR REPLACE VIEW {db}.{vname} AS {sql}")
    # freshness marker: the snapshot versions this publish serves. A later
    # `python -m dvx views` (or staleness()) compares these against the
    # live tables to report how stale the catalog layer is.
    import json as _json

    published = {name: vault.table(name).version() for name in _MIRRORED}
    marker = os.path.join(vault.warehouse, "_serving", "_published.json")
    os.makedirs(os.path.dirname(marker), exist_ok=True)
    with open(marker, "w") as f:
        _json.dump(published, f)
    return {
        "database": db,
        "tables": tables,
        "views": sorted(views),
        "published_versions": published,
    }


def staleness(vault: Vault) -> dict:
    """Serving-freshness report: for each mirrored table, the snapshot
    version the published catalog layer serves (last publish) vs the
    live lake version. ``versions_behind == 0`` everywhere means the
    catalog layer is current."""
    import json as _json

    marker = os.path.join(vault.warehouse, "_serving", "_published.json")
    if not os.path.exists(marker):
        return {"published": False}
    with open(marker) as f:
        published = _json.load(f)
    out: dict = {"published": True, "tables": {}}
    for name, pv in published.items():
        cur = vault.table(name).version()
        out["tables"][name] = {
            "published_version": pv,
            "current_version": cur,
            "versions_behind": cur - pv,
        }
    return out
