"""Persistent semantic layer: publish_views must survive a brand-new
SparkSession (SemanticModel.scala:107-555 CREATE OR REPLACE VIEW
contract) and agree with the session temp views."""

from __future__ import annotations

import datetime as dt

import pytest

from dvx.apply import apply_batch
from dvx.pit import refresh_bridge
from dvx.schema import CHANGELOG_SCHEMA, Vault
from dvx.views import catalog_db, create_all_views, publish_views


@pytest.fixture(scope="module")
def published(spark, tmp_path_factory):
    v = Vault(spark, str(tmp_path_factory.mktemp("wh_views")), num_buckets=4)
    v.create_all_tables()
    t0 = dt.datetime(2024, 3, 1, 9, 0, 0)
    rows = [
        (i, "I", f"c{i % 7}", i // 7, "user" if i % 2 else "assistant",
         f"text {i}", "bash" if i % 5 == 0 else None, t0 + dt.timedelta(minutes=i))
        for i in range(60)
    ]
    apply_batch(v, spark.createDataFrame(rows, CHANGELOG_SCHEMA), epoch_id=0)
    refresh_bridge(v)
    out = publish_views(v)
    return v, out


def test_publish_views_reports_surface(published):
    _, out = published
    assert out["database"].startswith("dvx_")
    assert "v_conversation_360" in out["views"]
    assert "sat_turn_text" in out["tables"]


def test_views_survive_new_spark_session(spark, published):
    """The point of persistence: a DIFFERENT session (fresh temp-view
    namespace, same metastore — what a reconnecting BI tool gets) can
    query the views with zero dvx code."""
    v, out = published
    db = out["database"]
    s2 = spark.newSession()
    # temp views do NOT leak into the new session...
    assert not any(
        t.name == "v_conversation_summary" and t.tableType == "TEMPORARY"
        for t in s2.catalog.listTables()
    )
    # ...but the published catalog views are there and query fine
    n_convs = s2.sql(f"SELECT count(*) AS n FROM {db}.v_conversation_summary").first()["n"]
    assert n_convs == 7
    top = s2.sql(f"SELECT tool FROM {db}.v_top_tools").first()["tool"]
    assert top == "bash"


def test_published_views_match_session_views(spark, published):
    v, out = published
    db = out["database"]
    names = create_all_views(v)
    assert sorted(names) == out["views"] and len(names) == 8
    for name in names:
        sess = spark.sql(f"SELECT * FROM {name}")
        pub = spark.sql(f"SELECT * FROM {db}.{name}").select(*sess.columns)
        assert sess.exceptAll(pub).count() == 0, name
        assert pub.exceptAll(sess).count() == 0, name


def test_session_views_leave_user_temp_views_alone(spark, published):
    """create_all_views binds its lake reads under private names: a
    user's own temp view named like a vault table keeps its contents,
    and the semantic views still read the vault."""
    v, _ = published
    mine = ("sat_turn_text", "sat_turn_text_hist", "hub_turn",
            "hub_conversation", "bridge_conversation_turn")
    for i, name in enumerate(mine):
        spark.range(i + 1).createOrReplaceTempView(name)
    try:
        create_all_views(v)
        for i, name in enumerate(mine):
            user = spark.table(name)
            assert user.columns == ["id"] and user.count() == i + 1, name
        assert (
            spark.table("v_hub_conversation").count()
            == v.hub_conversation.read().count()
        )
        assert spark.table("v_current_turns").count() == v.hub_turn.read().count()
    finally:
        for name in mine:
            spark.catalog.dropTempView(name)


def test_republish_after_load_retargets(spark, published):
    """Publishing again after more data retargets the mirror in place —
    the persistent objects serve the NEW snapshot without re-DDL from
    the consumer side."""
    v, out = published
    db = out["database"]
    t1 = dt.datetime(2024, 3, 2, 9, 0, 0)
    more = [(1000, "I", "c_new", 0, "user", "brand new conv", None, t1)]
    apply_batch(v, spark.createDataFrame(more, CHANGELOG_SCHEMA), epoch_id=1)
    refresh_bridge(v)
    publish_views(v)
    s2 = spark.newSession()
    n = s2.sql(
        f"SELECT count(*) AS n FROM {db}.v_conversation_summary"
    ).first()["n"]
    assert n == 8


def test_published_tables_carry_cbo_stats(spark, published):
    """publish_views ANALYZEs the serving tables, so the CBO flags have
    real statistics to act on for BI SQL over the persistent views."""
    _, out = published
    db = out["database"]
    desc = spark.sql(f"DESCRIBE TABLE EXTENDED {db}.hub_turn").collect()
    stats = [r.data_type for r in desc if r.col_name == "Statistics"]
    assert stats and "rows" in stats[0], desc


def test_catalog_db_is_per_vault(spark, tmp_path):
    a = Vault(spark, str(tmp_path / "a"), num_buckets=2)
    b = Vault(spark, str(tmp_path / "b"), num_buckets=2)
    assert catalog_db(a) != catalog_db(b)


def test_publish_views_after_a_stale_batch(spark, tmp_path):
    """A stale batch splices history with equality-delete tombstones;
    publish_views folds every mirrored table before mirroring it, so it
    publishes (instead of refusing the pending tombstones) and the
    catalog views equal the session views."""
    from dvx.changelog import synthetic_changelog
    from tests.test_apply import split_batches

    cl = synthetic_changelog(spark, n_convs=20, seed=3).persist()
    early, late = split_batches(cl, 2)
    v = Vault(spark, str(tmp_path / "wh"), num_buckets=4)
    v.create_all_tables()
    apply_batch(v, late, epoch_id=0)
    apply_batch(v, early, epoch_id=1)  # older (ts, seq): re-chains
    assert any(v.sat_turn_text_hist.snapshot()["tombstones"].values())

    db = publish_views(v)["database"]
    for name in ("sat_turn_text", "sat_turn_text_hist"):
        assert not any(v.table(name).snapshot()["tombstones"].values())
    create_all_views(v)
    for name in ("v_current_turns", "v_turn_churn"):
        sess = spark.sql(f"SELECT * FROM {name}")
        pub = spark.sql(f"SELECT * FROM {db}.{name}").select(*sess.columns)
        assert sess.count() > 0, name
        assert sess.exceptAll(pub).count() == 0, name
        assert pub.exceptAll(sess).count() == 0, name
    cl.unpersist()
