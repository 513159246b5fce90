"""Gold layer — Kimball-style star schema over the vault (the reference's
DimensionalModelETL/SCDType2Handler analog, SURVEY.md §2.3 J7/J10, §2.5
W3, with the intended semantics and without the reference's defects:
surrogate keys are HASH keys, not global-window row_numbers
(SCDType2Handler.scala:248 single-partition bottleneck); the fact joins
the real link table, not ``JOIN ... ON TRUE``
(DimensionalModelETL.scala:470)).

- dim_role / dim_tool: tiny SCD1 dimensions (full overwrite, S7 pattern).
- dim_date: date dimension from a spine (role-playing via aliases, J7).
- dim_conversation: SCD2 dimension maintained by hash-diff compare —
  reuses the satellite merge machinery (J10's coalesce-compare chain
  collapsed into one MD5, the Bronze pattern the reference itself
  prefers).
- fact_turn: current turns with surrogate-key lookups (left joins,
  broadcast dims).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dvx.hashing import hash_expr
from dvx.pit import current_turn_text, latest_asof
from dvx.schema import Vault

#: SCD2 dim column order (metadata tail shared by every SCD2 dimension)
_SCD2_META = ["dim_hash_diff", "valid_from", "valid_to", "is_current"]


def build_dim_date(spark, start: str, end: str) -> DataFrame:
    return spark.sql(
        f"SELECT explode(sequence(to_date('{start}'), to_date('{end}'))) AS d"
    ).select(
        F.date_format("d", "yyyyMMdd").cast("int").alias("date_key"),
        F.date_format("d", "yyyy-MM-dd").alias("date_s"),
        F.year("d").alias("year"),
        F.quarter("d").alias("quarter"),
        F.month("d").alias("month"),
        F.dayofweek("d").alias("day_of_week"),
    )


def build_dims(vault: Vault) -> dict[str, DataFrame]:
    """SCD1 dims as deterministic derivations of the current state."""
    sat = current_turn_text(vault)
    dim_role = (
        sat.select("role").distinct()
        .withColumn("role_key", hash_expr("role"))
        .select("role_key", "role")
    )
    dim_tool = (
        sat.filter(F.col("tool").isNotNull()).select("tool").distinct()
        .withColumn("tool_key", hash_expr("tool"))
        .select("tool_key", "tool")
    )
    return {"dim_role": dim_role, "dim_tool": dim_tool}


def live_turns_asof(vault: Vault, ts: str) -> DataFrame:
    """Current live turns as of timestamp ``ts`` (P3 + W1 over the full
    satellite history, tombstones dropped) joined to hub_turn — the gold
    layer's source frame for point-in-time dimension builds. The pick is
    the PIT build's own (:func:`dvx.pit.latest_asof`)."""
    return latest_asof(vault, vault.sat_all(), F.to_timestamp(F.lit(ts)))


def conversation_attrs(turns: DataFrame) -> DataFrame:
    """Conversation-grain descriptive attributes from a live-turn frame —
    the slowly-changing payload dim_conversation versions."""
    return turns.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.max_by("role", "turn_idx").alias("last_role"),
        F.max(F.when(F.col("tool").isNotNull(), "Y").otherwise("N")).alias("has_tool"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
    )


def scd2_merge_dim(
    existing: DataFrame | None,
    source: DataFrame,
    key: str,
    attrs: list[str],
    load_ts: str,
) -> DataFrame:
    """One SCD2 maintenance pass over a gold dimension — the reference's
    SCDType2Handler with its *intended* semantics and without its defects
    (SCDType2Handler.scala:65-337: detectChanges / endDateExpiredVersions /
    insertNewVersions / insertNewRecords), fixed:

    - change detection is ONE hash-diff compare (not a coalesce-compare
      per column, SCDType2Handler.scala:82-120);
    - end-dating + inserts are computed in one pass and returned as the
      full replacement contents (no broken in-place UPDATE);
    - surrogate identity is (key, valid_from), not a global-window
      row_number (SCDType2Handler.scala:248 single-partition bottleneck).

    Returns the complete new dimension contents:
    ``key, *attrs, dim_hash_diff, valid_from, valid_to, is_current`` —
    history rows carried over, displaced current rows end-dated at
    ``load_ts``, changed/new keys inserted as the new current version, and
    keys absent from the source end-dated with no successor (full-source
    semantics: the source is the complete current key population).
    """
    ts = F.to_timestamp(F.lit(load_ts))
    src = source.withColumn("dim_hash_diff", hash_expr(*attrs))
    out_cols = [key, *attrs, *_SCD2_META]
    fresh = src.select(
        key,
        *attrs,
        "dim_hash_diff",
        ts.alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(1).alias("is_current"),
    )
    if existing is None:
        return fresh
    hist = existing.filter(F.col("is_current") == 0).select(*out_cols)
    cur = existing.filter(F.col("is_current") == 1)
    cmp = cur.alias("c").join(
        src.select(key, F.col("dim_hash_diff").alias("_src_diff")).alias("s"),
        key,
        "left",
    )
    unchanged = cmp.filter(F.col("_src_diff") == F.col("dim_hash_diff")).select(
        *[f"c.{c}" if c not in (key,) else key for c in out_cols]
    )
    displaced = (
        cmp.filter(F.col("_src_diff").isNull() | (F.col("_src_diff") != F.col("dim_hash_diff")))
        .select(
            key,
            *[f"c.{a}" for a in attrs],
            "c.dim_hash_diff",
            "c.valid_from",
            ts.alias("valid_to"),
            F.lit(0).alias("is_current"),
        )
    )
    kept_keys = cur.join(src.select(key), key, "inner").select(
        key, F.col("dim_hash_diff").alias("_cur_diff")
    )
    inserts = fresh.join(kept_keys, key, "left").filter(
        F.col("_cur_diff").isNull() | (F.col("_cur_diff") != F.col("dim_hash_diff"))
    ).select(*out_cols)
    return hist.unionByName(unchanged).unionByName(displaced).unionByName(inserts)


def validate_scd2(dim: DataFrame, key: str) -> dict[str, int]:
    """SCDType2Handler.validateSCDType2 analog (SCDType2Handler.scala:
    289-337): returns violation counts (all zero on a healthy dim):

    - ``multi_current``: keys with more than one current version;
    - ``open_history``: non-current rows with NULL valid_to;
    - ``inverted_interval``: valid_to <= valid_from;
    - ``chain_overlap``: a version's valid_to > its successor's
      valid_from (two versions claim the same instant — a defect).

    ``chain_gap`` (valid_to < successor's valid_from) is reported too but
    is NOT a violation: full-source SCD2 semantics legitimately create
    gaps when a key disappears from one load (end-dated) and reappears in
    a later one (re-inserted at the later load_ts) — a healthy dim can
    have chain_gap > 0.
    """
    from pyspark.sql.window import Window

    multi = (
        dim.filter(F.col("is_current") == 1).groupBy(key).count().filter("count > 1").count()
    )
    open_hist = dim.filter((F.col("is_current") == 0) & F.col("valid_to").isNull()).count()
    inverted = dim.filter(F.col("valid_to") <= F.col("valid_from")).count()
    w = Window.partitionBy(key).orderBy("valid_from")
    succ = dim.withColumn("_nvf", F.lead("valid_from").over(w)).filter(
        F.col("_nvf").isNotNull()
    )
    overlaps = succ.filter(F.col("valid_to") > F.col("_nvf")).count()
    gaps = succ.filter(F.col("valid_to") < F.col("_nvf")).count()
    return {
        "multi_current": multi,
        "open_history": open_hist,
        "inverted_interval": inverted,
        "chain_overlap": overlaps,
        "chain_gap": gaps,
    }


def build_dim_conversation(
    vault: Vault, passes: list[tuple[str, str]]
) -> DataFrame:
    """SCD2 ``dim_conversation`` maintained by successive hash-diff merge
    passes: each ``(as_of_ts, load_ts)`` pass derives the conversation
    attributes live as of ``as_of_ts`` and merges them with
    :func:`scd2_merge_dim` stamped at ``load_ts`` (J10; the gold.py
    module-docstring contract)."""
    dim: DataFrame | None = None
    for as_of_ts, load_ts in passes:
        src = conversation_attrs(live_turns_asof(vault, as_of_ts))
        dim = scd2_merge_dim(
            dim, src, "conv_id", ["n_turns", "last_role", "has_tool", "total_chars"], load_ts
        )
    return dim


def build_fact_turn(vault: Vault, date_spine: tuple[str, str] | None = None) -> DataFrame:
    """Fact at turn grain: real link-table join + broadcast dim lookups +
    dim_date ROLE-PLAYING — one physical dim_date joined twice under two
    aliases (J7, DimensionalModelETL.scala:556-583): ``valid`` resolves
    the current version's valid_from date, ``created`` resolves the turn's
    first-load date (hub_turn.load_date). Both roles contribute calendar
    attributes, so the role-playing is a real join, not key arithmetic.

    ``date_spine``: (start, end) of the dim_date build; defaults to the
    fact's own min/max dates (two tiny scalar aggs on pruned columns).
    dim_date is bounded (one row per calendar day) — always broadcast.
    """
    sat = current_turn_text(vault)
    link = vault.link_conversation_turn.read().select(
        "link_hash_key", "conv_hash_key", "turn_hash_key"
    )
    hub_t = vault.hub_turn.read().select(
        "turn_hash_key", "conv_id", "turn_idx", F.col("load_date").alias("created_date")
    )
    dims = build_dims(vault)
    base = (
        sat.join(link, "turn_hash_key")  # the real link, not ON TRUE
        .join(hub_t, "turn_hash_key")
        .join(F.broadcast(dims["dim_role"]), "role", "left")  # J7 lookups
        .join(F.broadcast(dims["dim_tool"]), "tool", "left")
        .withColumn(
            "valid_date_key", F.date_format("valid_from", "yyyyMMdd").cast("int")
        )
        .withColumn(
            "created_date_key",
            F.date_format(F.to_date("created_date"), "yyyyMMdd").cast("int"),
        )
    )
    if date_spine is None:
        lo, hi = base.agg(
            F.min(F.to_date("created_date")), F.max(F.to_date(F.col("valid_from")))
        ).first()
        date_spine = (str(lo), str(hi))
    dd = build_dim_date(vault.spark, *date_spine)
    d_valid = dd.select(
        F.col("date_key").alias("valid_date_key"),
        F.col("year").alias("valid_year"),
        F.col("quarter").alias("valid_quarter"),
    )
    d_created = dd.select(
        F.col("date_key").alias("created_date_key"),
        F.col("year").alias("created_year"),
        F.col("month").alias("created_month"),
    )
    return (
        base.join(F.broadcast(d_valid), "valid_date_key", "left")
        .join(F.broadcast(d_created), "created_date_key", "left")
        .select(
            "link_hash_key",
            "conv_hash_key",
            "turn_hash_key",
            "conv_id",
            "turn_idx",
            "role_key",
            "tool_key",
            "valid_date_key",
            "valid_year",
            "valid_quarter",
            "created_date_key",
            "created_year",
            "created_month",
            F.length("text").cast("long").alias("text_chars"),
            F.when(F.col("tool").isNotNull(), 1).otherwise(0).alias("is_tool_turn"),
        )
    )


def fact_summary(vault: Vault) -> DataFrame:
    """BI rollup over the star (A9 multi-dim GROUP BY shape)."""
    fact = build_fact_turn(vault)
    dims = build_dims(vault)
    return (
        fact.join(F.broadcast(dims["dim_role"]), "role_key", "left")
        .groupBy("role")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum("text_chars").alias("total_chars"),
            F.sum("is_tool_turn").alias("tool_turns"),
            F.countDistinct("conv_id").alias("n_convs"),
        )
    )
