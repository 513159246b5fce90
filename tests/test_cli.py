"""CLI entry points + config cascade (ETLConfig/ConfigLoader analog) +
per-file table stats (table.files analog)."""

from __future__ import annotations

import json

import pytest

from dvx.config import DvxConfig


def test_config_cascade_precedence(tmp_path):
    cfgf = tmp_path / "dvx.json"
    cfgf.write_text(json.dumps({"warehouse": "/from/file", "num_buckets": 8}))
    cfg = DvxConfig.load(
        config_file=str(cfgf),
        overrides={"num_buckets": 64},
        env={"DVX_WAREHOUSE": "/from/env", "DVX_MAX_FILES_PER_TRIGGER": "7"},
    )
    assert cfg.warehouse == "/from/env"  # env beats file
    assert cfg.num_buckets == 64  # explicit override beats env+file
    assert cfg.max_files_per_trigger == 7  # env string coerced to int
    assert cfg.log_lineage is True  # default survives


def test_config_rejects_unknown_file_keys(tmp_path):
    cfgf = tmp_path / "bad.json"
    cfgf.write_text(json.dumps({"warehose": "/typo"}))
    with pytest.raises(ValueError, match="unknown config keys"):
        DvxConfig.load(config_file=str(cfgf), env={})


def test_config_list_and_bool_coercion():
    cfg = DvxConfig.load(
        env={"DVX_PIT_DATES": "1998-01-01,1998-02-01", "DVX_LOG_LINEAGE": "false"}
    )
    assert cfg.pit_dates == ["1998-01-01", "1998-02-01"]
    assert cfg.log_lineage is False


def test_cli_end_to_end(spark, tmp_path, monkeypatch, capsys):
    """create -> replay -> pit -> validate -> bridge -> stats through the
    real CLI main() (in-process; get_spark reuses the test session)."""
    from dvx.__main__ import main
    from dvx.changelog import synthetic_changelog
    from dvx.stream import write_changelog_files

    wh = str(tmp_path / "wh")
    cdir = str(tmp_path / "cl")
    write_changelog_files(
        synthetic_changelog(spark, n_convs=20, hot_convs=1, hot_turns=10), cdir, 2
    )
    base = ["--warehouse", wh, "--num-buckets", "4"]
    assert main([*base, "create"]) == 0
    assert main([*base, "replay", "--changelog", cdir,
                 "--checkpoint", str(tmp_path / "ck")]) == 0
    assert main([*base, "pit", "--date", "2024-06-01"]) == 0
    assert main([*base, "validate"]) == 0
    assert main([*base, "bridge"]) == 0
    # no satellite file was added since that refresh: nothing to redo
    capsys.readouterr()
    assert main([*base, "bridge", "--incremental"]) == 0
    assert json.loads(capsys.readouterr().out) == {"buckets_refreshed": 0}

    from dvx.schema import Vault

    stats = Vault(spark, wh, num_buckets=4).hub_turn.file_stats()
    assert stats and all(s["file_count"] >= 1 and s["bytes"] > 0 for s in stats)
    assert main([*base, "stats"]) == 0
