"""Hash parity: the fused Arrow UDF (registry_hashes) vs native F.md5 vs
hashlib vs DuckDB.

Mirrors HashKeyGenerator semantics (SURVEY.md §2.8): NULL sentinel,
upper/trim normalization, '~' delimiter, lowercase 32-char hex.
"""

from __future__ import annotations

import hashlib

import duckdb
import pytest
from pyspark.sql import functions as F

from dvx.entities import DEFAULT_REGISTRY, SAT_TURN_META
from dvx.hashing import hash_expr, hash_sql, normalized_concat, registry_hashes

#: two satellites, so the fused pass emits more than one hash-diff
REGISTRY = DEFAULT_REGISTRY.with_satellite(SAT_TURN_META)


@pytest.fixture(scope="module")
def df(spark):
    rows = [
        ("conv-1", 0, "user", "hello world", None),
        ("conv-1", 1, "assistant", "  padded  ", "search"),
        ("CONV-1", 0, "USER", "hello world", None),  # case-normalized dup of row 0
        ("conv-2", 7, None, "", "calc"),  # NULL role, empty text
        ("conv-3", 42, "tool", "unicode: héllo ✓", "exec"),
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    )


def _fused(df):
    """``df`` plus every column the ingest hot path's ONE Arrow pass emits."""
    diff_cols = {s.name: list(s.attrs) for s in REGISTRY.satellites}
    return df.withColumn("_h", registry_hashes(REGISTRY, diff_cols)).select(
        "*", "_h.*"
    )


def test_native_vs_udf_bit_identical(df):
    """Every hub key and satellite hash-diff of the fused Arrow pass equals
    the native hash_expr over the same columns."""
    pairs = [(h.hash_key, hash_expr(*h.business_keys)) for h in REGISTRY.hubs]
    pairs += [(s.diff_col, hash_expr(*s.attrs)) for s in REGISTRY.satellites]
    rows = _fused(df).select(
        *[c for name, ref in pairs for c in (F.col(name), ref.alias("ref_" + name))]
    ).collect()
    assert len(rows) == 5
    for r in rows:
        for name, _ in pairs:
            assert r[name] == r["ref_" + name], name
            assert len(r[name]) == 32 and r[name] == r[name].lower()


def test_matches_hashlib_reference(df):
    rows = df.select(
        normalized_concat("conv_id", "turn_idx").alias("norm"),
        hash_expr("conv_id", "turn_idx").alias("h"),
    ).collect()
    for r in rows:
        assert r.h == hashlib.md5(r.norm.encode("utf-8")).hexdigest()


def test_case_trim_normalization(df):
    keys = [r.h for r in df.select(hash_expr("conv_id", "turn_idx").alias("h")).collect()]
    assert keys[0] == keys[2]  # 'conv-1'/'user' == 'CONV-1'/'USER'


def test_null_vs_empty_distinct(spark):
    df2 = spark.createDataFrame([(None,), ("",)], "v string")
    a, b = [r.h for r in df2.select(hash_expr("v").alias("h")).collect()]
    assert a != b  # NULL hashes as sentinel, not as ''


def test_fused_key_udf_matches_individual_exprs(df):
    """The link key computed in-pass equals md5 over its (normalized)
    parent hub keys, each computed natively."""
    hub_ref = {h.hash_key: hash_expr(*h.business_keys) for h in REGISTRY.hubs}
    (link,) = REGISTRY.links
    got = _fused(df).select(
        F.col(link.hash_key).alias("fused"),
        hash_expr(*[hub_ref[p] for p in link.parents]).alias("ref"),
    ).collect()
    assert len(got) == 5
    for r in got:
        assert r.fused == r.ref


def test_duckdb_oracle_parity(df):
    pdf = df.toPandas()
    con = duckdb.connect()
    con.register("t", pdf)
    sql_h = hash_sql("conv_id", "turn_idx")
    duck = [r[0] for r in con.execute(f"select {sql_h} from t").fetchall()]
    spark_h = [r.h for r in df.select(hash_expr("conv_id", "turn_idx").alias("h")).collect()]
    assert duck == spark_h

    sql_d = hash_sql("role", "text", "tool")
    duck_d = [r[0] for r in con.execute(f"select {sql_d} from t").fetchall()]
    spark_d = [r.h for r in df.select(hash_expr("role", "text", "tool").alias("h")).collect()]
    assert duck_d == spark_d
