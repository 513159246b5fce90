"""Correctness gate: the vault against a DuckDB reduction of the same
changelog files.

Semantics are the one-shot reduction the engine must equal (the
latest-version / version-chain reductions of ``__spark_entry__.py``'s
``_LATEST`` / ``_VERSIONS`` oracles, restated here so the benchmark does
not import them):

- exact redeliveries collapse (``SELECT DISTINCT``);
- a key's live row is its newest event by (ts, seq), unless that is a
  delete;
- a key's versions are the events whose normalized (role, text, tool,
  deleted) content differs from the previous event by (ts, seq);
- hubs and the link hold every key ever seen, deleted or not.

Every mismatching row counts as one wrong row.
"""

from __future__ import annotations

import duckdb

# content normalization of the satellite hash-diff: trimmed, upper-cased,
# NULL distinct from every string
_NORM = " || chr(31) || ".join(
    f"coalesce(upper(trim(CAST({c} AS VARCHAR))), chr(0))"
    for c in ("role", "text", "tool", "is_deleted")
)

_REDUCE = f"""
CREATE TEMP TABLE dedup AS SELECT DISTINCT * FROM read_parquet($files);
CREATE TEMP TABLE live AS
  SELECT conv_id, turn_idx, role, text, tool FROM (
    SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                                 ORDER BY ts DESC, seq DESC) AS rn
    FROM dedup)
  WHERE rn = 1 AND op <> 'D';
CREATE TEMP TABLE versions AS
  SELECT conv_id, turn_idx, count(*) AS n_versions FROM (
    SELECT conv_id, turn_idx, diff,
           lag(diff) OVER (PARTITION BY conv_id, turn_idx ORDER BY ts, seq) AS prev
    FROM (SELECT *, {_NORM} AS diff FROM (
            SELECT *, CASE WHEN op = 'D' THEN 'Y' END AS is_deleted FROM dedup)))
  WHERE prev IS NULL OR prev <> diff
  GROUP BY conv_id, turn_idx;
"""


def _sym_diff(con, a: str, b: str) -> int:
    return con.execute(
        f"SELECT (SELECT count(*) FROM (SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b}))"
        f" + (SELECT count(*) FROM (SELECT * FROM {b} EXCEPT ALL SELECT * FROM {a}))"
    ).fetchone()[0]


def vault_state(vault):
    """Arrow tables of the vault's live rows and version counts, plus
    hub and link key counts (5 Spark jobs)."""
    from pyspark.sql import functions as F

    hub = vault.hub_turn.read().select("turn_hash_key", "conv_id", "turn_idx")
    live = (
        vault.sat_turn_text.read()
        .filter(F.col("valid_to").isNull() & F.col("is_deleted").isNull())
        .join(hub, "turn_hash_key")
        .select("conv_id", "turn_idx", "role", "text", "tool")
    )
    versions = (
        vault.sat_all().groupBy("turn_hash_key").agg(F.count("*").alias("n_versions"))
        .join(hub, "turn_hash_key")
        .select("conv_id", "turn_idx", "n_versions")
    )
    counts = {
        "hub_conversation": vault.hub_conversation.read().count(),
        "hub_turn": vault.hub_turn.read().count(),
        "link_conversation_turn": vault.link_conversation_turn.read().count(),
    }
    return live.toArrow(), versions.toArrow(), counts


def check(vault, files: list[str]) -> dict:
    """Compare the vault to the reduction of ``files``; returns
    ``{"wrong_rows": n, "detail": {...}}``."""
    v_live, v_versions, v_counts = vault_state(vault)
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        for stmt in _REDUCE.split(";"):
            if stmt.strip():
                con.execute(stmt, {"files": files} if "$files" in stmt else None)
        con.register("v_live", v_live)
        con.register("v_versions", v_versions)
        o_counts = {
            "hub_conversation": "SELECT count(DISTINCT conv_id) FROM dedup",
            "hub_turn": "SELECT count(*) FROM (SELECT DISTINCT conv_id, turn_idx FROM dedup)",
            "link_conversation_turn":
                "SELECT count(*) FROM (SELECT DISTINCT conv_id, turn_idx FROM dedup)",
        }
        detail = {
            "live": _sym_diff(con, "live", "v_live"),
            "versions": _sym_diff(
                con,
                "(SELECT conv_id, turn_idx, CAST(n_versions AS BIGINT) FROM versions)",
                "(SELECT conv_id, turn_idx, CAST(n_versions AS BIGINT) FROM v_versions)",
            ),
        }
        for name, sql in o_counts.items():
            detail[name] = abs(con.execute(sql).fetchone()[0] - v_counts[name])
        detail["live_rows"] = v_live.num_rows
        return {
            "wrong_rows": sum(v for k, v in detail.items() if k != "live_rows"),
            "detail": detail,
        }
    finally:
        con.close()
