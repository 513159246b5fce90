"""dvx.session.warm_start: the one-time engine warm-up lever.

The warm-up exists so the FIRST real micro-batch of a stream does not
pay Python-worker fork + codegen cold-start inside the hot path
(measured 15-20 s of batch-1 wall at sf0.1/local[32]). These tests pin
its contract: once per session, env-disable, no files left behind, and
best-effort (a failed warm-up neither aborts vault creation nor counts
as warmed).
"""

from __future__ import annotations

import glob
import os

from dvx import session as dvx_session
from dvx.session import warm_start


def test_warm_start_runs_once_and_is_env_disableable(spark, monkeypatch, tmp_path):
    app_id = spark.sparkContext.applicationId
    # private scratch: a concurrent dvx process's own warm-up files in
    # the shared scratch dir cannot show up here
    monkeypatch.setattr(dvx_session, "_scratch_dir", lambda: str(tmp_path))

    # disabled: returns before marking the session as warmed
    monkeypatch.setattr(dvx_session, "_WARMED", set())
    monkeypatch.setenv("DVX_WARM_START", "0")
    warm_start(spark)
    assert dvx_session._WARMED == set()

    # enabled: runs and marks; a second call is a no-op (guard holds)
    monkeypatch.delenv("DVX_WARM_START")
    warm_start(spark)
    assert app_id in dvx_session._WARMED
    warm_start(spark)
    assert len(dvx_session._WARMED) == 1

    # the synthetic warm job cleans up its scratch parquet
    assert glob.glob(os.path.join(str(tmp_path), "dvx_warm_*")) == []


def test_create_all_tables_triggers_warm_start(spark, tmp_path, monkeypatch):
    from dvx.schema import Vault

    monkeypatch.setattr(dvx_session, "_WARMED", set())
    vault = Vault(spark, str(tmp_path / "wh"), num_buckets=4)
    vault.create_all_tables()
    assert spark.sparkContext.applicationId in dvx_session._WARMED


def test_failed_warm_start_does_not_block_create_and_is_retried(
    spark, tmp_path, monkeypatch, caplog
):
    from dvx.lake import LakeTable
    from dvx.schema import Vault

    app_id = spark.sparkContext.applicationId
    monkeypatch.setattr(dvx_session, "_WARMED", set())
    # unwritable scratch: the warm job cannot create its temp dir
    missing = str(tmp_path / "no_such_dir")
    monkeypatch.setattr(dvx_session, "_scratch_dir", lambda: missing)
    vault = Vault(spark, str(tmp_path / "wh"), num_buckets=4)
    with caplog.at_level("WARNING", logger="dvx.schema"):
        vault.create_all_tables()
    assert all(LakeTable.exists(vault.path(t)) for t in vault.tables)
    assert app_id not in dvx_session._WARMED
    assert any("warm_start failed" in r.getMessage() for r in caplog.records)

    # the next call retries the warm-up, and marks it once it succeeds
    monkeypatch.setattr(dvx_session, "_scratch_dir", lambda: str(tmp_path))
    vault.create_all_tables()
    assert app_id in dvx_session._WARMED


def test_alloc_file_declares_every_apply_pool(monkeypatch, tmp_path):
    """Every pool dvx.apply runs jobs in is declared, each on-demand one
    with the weight 1 and FIFO mode Spark would give it; the file name
    follows the content, so a file written for other pools is not
    reused."""
    import xml.etree.ElementTree as ET

    from dvx.entities import DEFAULT_REGISTRY as reg

    monkeypatch.setattr(dvx_session, "_scratch_dir", lambda: str(tmp_path))
    path = dvx_session._alloc_file()
    pools = {
        p.get("name"): (
            p.findtext("schedulingMode"), int(p.findtext("weight")),
            int(p.findtext("minShare")),
        )
        for p in ET.parse(path).getroot().iter("pool")
    }
    weight = dvx_session.CRITICAL_WEIGHT
    want = {"dvx_critical": ("FAIR", weight, 0), "dvx_merge_scan": ("FIFO", 1, 0)}
    want.update({f"dvx_merge_{t.name}": ("FIFO", 1, 0) for t in (*reg.hubs, *reg.links)})
    assert pools == want
    assert dvx_session._alloc_file() == path

    monkeypatch.setattr(dvx_session, "CRITICAL_WEIGHT", weight + 1)
    other = dvx_session._alloc_file()
    assert other != path
    assert f"<weight>{weight + 1}</weight>" in open(other).read()
    assert sorted(os.listdir(tmp_path)) == sorted(
        os.path.basename(p) for p in (path, other)
    )
